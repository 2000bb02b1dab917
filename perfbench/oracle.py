"""Closed-form DuckDB oracles over the generated parquet inputs, and the
checks that compare an engine output with them.

The SQL re-derives the formulas of the engine's oracle gate
(``__spark_entry__.oracle_sql``) for the benchmark's own inputs. Every
check returns an error string, or ``None`` when the output is correct.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

# the 12-gon star radius pattern (shared with the Spark-side star WKT)
STAR_R = [0.7 + 0.3 * ((k * 2654435761 % 7) / 7.0) for k in range(12)]
STAR_A = [2 * math.pi * k / 12 for k in range(12)]
# area of the star with unit half-width: shoelace over the 12 spokes
STAR_UNIT_AREA = 0.5 * sum(STAR_R[k] * STAR_R[(k + 1) % 12]
                           * math.sin(2 * math.pi / 12) for k in range(12))
# radius of the star's inscribed disk with unit half-width: the smallest
# distance from the center to an edge line (the star is star-shaped about
# its center, so that disk lies inside it), shrunk by 1e-9 for rounding
STAR_IN = (1 - 1e-9) * min(
    STAR_R[k] * STAR_R[(k + 1) % 12] * math.sin(2 * math.pi / 12)
    / math.hypot(STAR_R[k] - STAR_R[(k + 1) % 12] * math.cos(2 * math.pi / 12),
                 STAR_R[(k + 1) % 12] * math.sin(2 * math.pi / 12))
    for k in range(12))
# a pair whose inscribed disks overlap by more than this area must be in
# the overlay output
LENS_MIN = 1e-10

# grid buckets per unit for the oracles' pruning equi-joins
GRID = 8
# DuckDB threads of the oracle queries
THREADS = 4


def _morton_sql(xcol: str, ycol: str, res: int) -> str:
    n = 1 << res
    i = f"CAST(floor(least({xcol}, 0.9999999999) * {n}) AS BIGINT)"
    j = f"CAST(floor(least({ycol}, 0.9999999999) * {n}) AS BIGINT)"
    bi = " | ".join(f"((({i} >> {b}) & 1) << {2 * b})" for b in range(res))
    bj = " | ".join(f"((({j} >> {b}) & 1) << {2 * b + 1})" for b in range(res))
    return f"((CAST({res} AS BIGINT) << 56) | ({bi}) | ({bj}))"


def _star_bbox_sql(table: str) -> str:
    """Star bounding boxes, in the Spark-side star WKT's float op order
    (cx + (h*R_k)*C_k), so the bounds are bit-identical."""
    xs = [f"(c_x + ((h * {r!r}) * ({math.cos(a)!r})))" for r, a in zip(STAR_R, STAR_A)]
    ys = [f"(c_y + ((h * {r!r}) * ({math.sin(a)!r})))" for r, a in zip(STAR_R, STAR_A)]
    return f"""
        SELECT p_partkey, least({', '.join(xs)}) AS bminx,
               greatest({', '.join(xs)}) AS bmaxx,
               least({', '.join(ys)}) AS bminy,
               greatest({', '.join(ys)}) AS bmaxy,
               h * h * {STAR_UNIT_AREA!r} AS area, c_x, c_y,
               h * {STAR_IN!r} AS rin
        FROM (SELECT p_partkey, (minx + maxx) / 2 AS c_x,
                     (miny + maxy) / 2 AS c_y, (maxx - minx) / 2 AS h
              FROM '{table}')
    """


class Oracle:
    """Evaluates the oracles once per run, outside the timed region."""

    def __init__(self):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {THREADS}")

    def close(self) -> None:
        self.con.close()

    def _df(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    # -- join_broadcast ------------------------------------------------
    def points_in_rects(self, pts: str, rects: str) -> pd.DataFrame:
        """The gate's BETWEEN formula. The equi-join on grid buckets only
        prunes: every rectangle is listed in each bucket it touches."""
        g = GRID
        return self._df(f"""
            WITH r AS (
              SELECT p_partkey, minx, miny, maxx, maxy, bx, by
              FROM '{rects}',
                   UNNEST(generate_series(CAST(floor(minx * {g}) AS BIGINT),
                                          CAST(floor(maxx * {g}) AS BIGINT))) AS gx(bx),
                   UNNEST(generate_series(CAST(floor(miny * {g}) AS BIGINT),
                                          CAST(floor(maxy * {g}) AS BIGINT))) AS gy(by)),
            p AS (SELECT c_custkey, x, y, CAST(floor(x * {g}) AS BIGINT) AS bx,
                         CAST(floor(y * {g}) AS BIGINT) AS by FROM '{pts}')
            SELECT c_custkey, p_partkey FROM p JOIN r USING (bx, by)
            WHERE x BETWEEN minx AND maxx AND y BETWEEN miny AND maxy""")

    def nearest_center(self, pts: str, rects: str) -> pd.DataFrame:
        """The gate's formula (rank 1 by distance, ties kept, here as
        distance = per-point minimum), over the centers in the 3x3 grid
        block around each point. That block holds every center within
        1/GRID of the point, so the answer is exact whenever each point's
        nearest distance is at most 1/GRID; the query checks this and the
        full cross join runs otherwise."""
        g = GRID
        cross = f"FROM '{pts}', c"
        block = f"""FROM (SELECT *, CAST(floor(x * {g}) AS BIGINT) AS bx,
                             CAST(floor(y * {g}) AS BIGINT) AS by FROM '{pts}')
                    JOIN (SELECT p_partkey, cx, cy,
                                 CAST(floor(cx * {g}) AS BIGINT) + dx AS bx,
                                 CAST(floor(cy * {g}) AS BIGINT) + dy AS by
                          FROM c, range(-1, 2) AS ux(dx), range(-1, 2) AS uy(dy))
                    USING (bx, by)"""

        def knn(source: str) -> pd.DataFrame:
            return self._df(f"""
                WITH c AS (SELECT p_partkey, (minx + maxx) / 2 AS cx,
                                  (miny + maxy) / 2 AS cy FROM '{rects}'),
                d AS (SELECT c_custkey, p_partkey,
                             sqrt((x - cx) * (x - cx) + (y - cy) * (y - cy)) AS dist
                      {source}),
                m AS (SELECT c_custkey, min(dist) AS md FROM d GROUP BY 1)
                SELECT c_custkey, p_partkey, dist, round(dist, 9) AS dist_r
                FROM d JOIN m USING (c_custkey) WHERE dist = md""")

        n_pts = self.con.execute(f"SELECT count(*) FROM '{pts}'").fetchone()[0]
        out = knn(block)
        if out["c_custkey"].nunique() != n_pts or (out["dist"] > 1.0 / g).any():
            out = knn(cross)
        return out.drop(columns="dist")

    def star_candidates(self, parts: str) -> pd.DataFrame:
        """bbox-overlap pairs (even key, odd key) with both star areas and
        ``lens``, the overlap area of the two stars' inscribed disks: a
        lower bound of the pair's intersection area (0 when the disks do
        not overlap)."""
        return self._df(f"""
            WITH b AS ({_star_bbox_sql(parts)}),
            c AS (
              SELECT a.p_partkey, q.p_partkey AS q_partkey,
                     a.area AS area_a, q.area AS area_b,
                     a.rin AS ra, q.rin AS rb,
                     sqrt((a.c_x - q.c_x) * (a.c_x - q.c_x)
                          + (a.c_y - q.c_y) * (a.c_y - q.c_y)) AS d
              FROM b a JOIN b q
                ON a.p_partkey % 2 = 0 AND q.p_partkey % 2 = 1
               AND a.bminx <= q.bmaxx AND q.bminx <= a.bmaxx
               AND a.bminy <= q.bmaxy AND q.bminy <= a.bmaxy)
            SELECT p_partkey, q_partkey, area_a, area_b,
              CASE WHEN d >= ra + rb THEN 0.0
                   WHEN d <= abs(ra - rb) THEN pi() * least(ra, rb) * least(ra, rb)
                   ELSE ra * ra * acos(least(1.0, greatest(-1.0,
                            (d * d + ra * ra - rb * rb) / (2 * d * ra))))
                        + rb * rb * acos(least(1.0, greatest(-1.0,
                            (d * d + rb * rb - ra * ra) / (2 * d * rb))))
                        - 0.5 * sqrt(greatest(0.0, (ra + rb - d) * (d + ra - rb)
                                                   * (d - ra + rb) * (d + ra + rb)))
              END AS lens
            FROM c""")

    # -- docs_pipeline -------------------------------------------------
    def tiles(self, orders: str) -> pd.DataFrame:
        return self._df(f"""
            WITH d AS (
              SELECT o_orderkey,
                     (o_orderkey * 2654435761 % 4294967296) % 997 AS px,
                     (o_orderkey * 2246822519 % 4294967296) % 983 AS py,
                     o_orderpriority
              FROM '{orders}')
            SELECT concat('doc-', lpad(CAST(o_orderkey AS VARCHAR), 12, '0'))
                     AS doc_id,
                   {_morton_sql('(px / 997.0)', '(py / 983.0)', 4)} AS tile,
                   px % 128 AS m_tx, py % 128 AS m_ty,
                   md5(concat('text#', o_orderpriority, '##0',
                              '|text#POINT (', CAST(px AS VARCHAR), ' ',
                              CAST(py AS VARCHAR), ')##1',
                              '|media##tile://7/', CAST(px % 128 AS VARCHAR),
                              '/', CAST(py % 128 AS VARCHAR), '#2')) AS span_fp
            FROM d""")

    def minhash_pairs(self, corpus: str) -> pd.DataFrame:
        """Exact 5-character-shingle Jaccard >= 0.5 over all pairs (the
        gate's formula), with |A ∩ B| counted by a self-join on the
        shingle instead of list_intersect per pair."""
        return self._df(f"""
            WITH sh AS (
                SELECT DISTINCT doc_id, substr(lower(text), i, 5) AS s
                FROM '{corpus}',
                     UNNEST(generate_series(1, length(lower(text)) - 4)) AS u(i)
                WHERE length(text) >= 5
            ), n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
            pairs AS (
                SELECT id_a, id_b,
                       CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
                FROM inter JOIN n na ON na.doc_id = id_a
                           JOIN n nb ON nb.doc_id = id_b)
            SELECT id_a, id_b, round(jaccard, 9) + 0.0 AS jaccard
            FROM pairs WHERE jaccard >= 0.5""")

    def ngram_pairs(self, corpus: str) -> pd.DataFrame:
        return self._df(rf"""
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(regexp_replace(lower(text),
                       '^\s+|\s+$', '', 'g'), '\s+') AS t
              FROM '{corpus}'
            ), ng AS (
              SELECT DISTINCT doc_id,
                     array_to_string(
                       t[CAST(i AS BIGINT):CAST(i + 2 AS BIGINT)], ' ') AS g
              FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
              WHERE len(t) >= 3
              UNION
              SELECT doc_id, array_to_string(t, ' ') AS g
              FROM toks WHERE len(t) < 3
            ), cnt AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM ng a JOIN ng b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b, round(i * 1.0 / (ca.n + cb.n - i), 9) AS jaccard
            FROM inter JOIN cnt ca ON ca.doc_id = id_a
                       JOIN cnt cb ON cb.doc_id = id_b
            WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.2""")



# ---------------------------------------------------------------------------
# checks


def _keys(a, b) -> np.ndarray:
    """Pack two int64 key columns into one sortable int64 (keys < 2^31)."""
    return (np.asarray(a, dtype=np.int64) << 31) | np.asarray(b, dtype=np.int64)


def same_pairs(got_a, got_b, want_a, want_b, what: str) -> str | None:
    g = np.sort(_keys(got_a, got_b))
    w = np.sort(_keys(want_a, want_b))
    if len(g) != len(w):
        return f"{what}: {len(g)} rows, oracle has {len(w)}"
    if not np.array_equal(g, w):
        return f"{what}: {int((g != w).sum())} pairs differ from the oracle"
    return None


def same_keyed_values(got_k, got_v, want_k, want_v, tol: float, what: str
                      ) -> str | None:
    gk, wk = np.asarray(got_k, np.int64), np.asarray(want_k, np.int64)
    go, wo = np.argsort(gk, kind="stable"), np.argsort(wk, kind="stable")
    if len(gk) != len(wk) or not np.array_equal(gk[go], wk[wo]):
        return f"{what}: key set differs from the oracle ({len(gk)} vs {len(wk)})"
    diff = np.abs(np.asarray(got_v, float)[go] - np.asarray(want_v, float)[wo])
    if not (diff <= tol).all():
        return f"{what}: {int((diff > tol).sum())} values off by more than {tol}"
    return None


def nearest_ok(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """kNN rows (ties kept): same (point, center) pairs, and distances equal
    after rounding to 1e-9 (one unit of slack for the last rounding)."""
    err = same_pairs(got["c_custkey"], got["p_partkey"], want["c_custkey"],
                     want["p_partkey"], "sjoin_nearest")
    if err:
        return err
    return same_keyed_values(_keys(got["c_custkey"], got["p_partkey"]),
                             got["dist_r"],
                             _keys(want["c_custkey"], want["p_partkey"]),
                             want["dist_r"], 1.5e-9, "sjoin_nearest distance")


def star_overlay_ok(got: pd.DataFrame, cand: pd.DataFrame) -> str | None:
    """No closed form for star intersection areas: every pair must be a
    bbox candidate with 0 <= area <= min(input areas), and every candidate
    whose inscribed disks overlap by more than ``LENS_MIN`` must be present
    with an area of at least that overlap."""
    ck = _keys(cand["p_partkey"], cand["q_partkey"])
    gk = _keys(got["p_partkey"], got["q_partkey"])
    if len(np.unique(gk)) != len(gk):
        return "overlay: duplicate pairs"
    order = np.argsort(ck)
    cks = ck[order]
    pos = np.clip(np.searchsorted(cks, gk), 0, len(cks) - 1)
    if len(gk) and not (cks[pos] == gk).all():
        return f"overlay: {int((cks[pos] != gk).sum())} pairs are not bbox candidates"
    cap = np.minimum(cand["area_a"].to_numpy(), cand["area_b"].to_numpy())[order][pos]
    ia = got["ia"].to_numpy(dtype=float)
    bad = ~np.isfinite(ia) | (ia < 0) | (ia > cap * (1 + 1e-9) + 1e-15)
    if bad.any():
        return f"overlay: {int(bad.sum())} areas outside [0, min(input areas)]"
    lens = cand["lens"].to_numpy(dtype=float)
    need = lens > LENS_MIN
    got_pos = np.zeros(len(cand), dtype=bool)
    got_pos[order[pos[cks[pos] == gk]]] = True
    missing = need & ~got_pos
    if missing.any():
        return f"overlay: {int(missing.sum())} pairs with overlapping inscribed disks missing"
    floor = np.zeros(len(cand))
    floor[order[pos]] = ia
    small = need & (floor < lens * (1 - 1e-9) - 1e-15)
    if small.any():
        return f"overlay: {int(small.sum())} areas below their inscribed-disk overlap"
    return None


def same_frame(got: pd.DataFrame, want: pd.DataFrame, key: list[str],
               what: str, tol: dict[str, float] | None = None) -> str | None:
    tol = tol or {}
    if len(got) != len(want):
        return f"{what}: {len(got)} rows, oracle has {len(want)}"
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return f"{what}: columns {sorted(got.columns)} != {cols}"
    g = got[cols].sort_values(key, ignore_index=True)
    w = want[cols].sort_values(key, ignore_index=True)
    for c in cols:
        if c in tol:
            d = np.abs(g[c].to_numpy(float) - w[c].to_numpy(float))
            if not (d <= tol[c]).all():
                return f"{what}: column {c} off by more than {tol[c]}"
        elif not (g[c].astype(str).to_numpy() == w[c].astype(str).to_numpy()).all():
            return f"{what}: column {c} differs from the oracle"
    return None
