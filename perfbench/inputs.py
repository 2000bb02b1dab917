"""Seeded input generators.

Every input is a parquet file written by numpy/pyarrow from ``--seed``
alone; the engine only ever reads these files. Point and rectangle
placement follows the Knuth multiplicative-hash derivation of the
oracle-gated queries in ``__spark_entry__.py`` (``key * 2654435761 mod
2^32`` for x, ``key * 2246822519 mod 2^32`` for y), with the key range
shifted by the seed.
"""

from __future__ import annotations

import os
import numpy as np
import pandas as pd

HA, HB = 2654435761, 2246822519
M32 = 1 << 32
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
# corpus: distinct words drawn, and the share of near-duplicate documents
VOCAB, DUP_SHARE = 3000, 0.06


def _hash01(keys: np.ndarray, mult: int) -> np.ndarray:
    k = keys.astype(np.uint64)
    return ((k * np.uint64(mult)) % np.uint64(M32)).astype(np.float64) / float(M32)


def _key_base(seed: int) -> int:
    # keys stay below 2^31: key * 2654435761 fits a signed 64-bit integer
    # in Spark and DuckDB, and two keys pack into one int64 in the checks
    return 1 + (seed % 10_000) * 104_729


def points(seed: int, n: int) -> pd.DataFrame:
    keys = np.arange(n, dtype=np.int64) + _key_base(seed)
    return pd.DataFrame({"c_custkey": keys, "x": _hash01(keys, HA),
                         "y": _hash01(keys, HB)})


def rects(seed: int, n: int, hot_share: float = 0.0,
          hot_width: float = 0.0) -> pd.DataFrame:
    """Axis-aligned squares of side 0.02 + (key % 10) * 0.005 in the unit
    square. With ``hot_share`` > 0 a seeded share of the rows is packed
    into one ``hot_width``-wide box at the center."""
    keys = np.arange(n, dtype=np.int64) + _key_base(seed) + 7
    hx, hy = _hash01(keys, HA), _hash01(keys, HB)
    minx, miny = 0.9 * hx, 0.9 * hy
    if hot_share > 0:
        rng = np.random.default_rng([seed % 2**32, 2])
        hot = np.zeros(n, dtype=bool)
        hot[rng.permutation(n)[:round(hot_share * n)]] = True
        cx = cy = (0.9 - hot_width) / 2
        minx = np.where(hot, cx + hot_width * hx, minx)
        miny = np.where(hot, cy + hot_width * hy, miny)
    side = 0.02 + (keys % 10) * 0.005
    return pd.DataFrame({"p_partkey": keys, "minx": minx, "miny": miny,
                         "maxx": minx + side, "maxy": miny + side})


def orders(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed % 2**32, 3])
    keys = np.arange(n, dtype=np.int64) + _key_base(seed)
    pri = np.asarray(PRIORITIES, dtype=object)[rng.integers(0, 5, n)]
    return pd.DataFrame({"o_orderkey": keys, "o_orderpriority": pri})


def corpus(seed: int, n: int) -> pd.DataFrame:
    """Word documents over a seeded vocabulary. A ``DUP_SHARE`` of the
    documents copy an earlier long document and append one word, so every
    near-duplicate pair sits far above the 0.5 shingle-Jaccard threshold
    (where 32-perm / 8-band LSH misses a pair with probability < 1e-7) and
    unrelated documents share too little text to come near it."""
    rng = np.random.default_rng([seed % 2**32, 4])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = sorted({"".join(rng.choice(letters, rng.integers(4, 10)))
                    for _ in range(VOCAB)})
    words = np.asarray(words, dtype=object)
    texts: list[str] = []
    for i in range(n):
        long_bases = [j for j in range(max(0, i - 200), i)
                      if texts[j].count(" ") >= 50]
        if long_bases and rng.random() < DUP_SHARE:
            base = texts[long_bases[rng.integers(len(long_bases))]]
            texts.append(base + " " + words[rng.integers(len(words))])
        else:
            texts.append(" ".join(rng.choice(words, rng.integers(10, 90))))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def write(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)
    return path
