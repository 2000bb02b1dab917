"""Training-data operators: dedup, text stats, similarity, multimodal."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geopandas_spark.operators.dedup import (
    exact_dedup, minhash_lsh, ngram_jaccard, simhash_near_dups)
from geopandas_spark.operators.similarity import (
    cosine_topk, embedding_near_dups, ivf_topk, lsh_topk,
    train_ivf_centroids)
from geopandas_spark.operators.textstats import (
    fingerprint, lang_id, quality_columns, token_count)


@pytest.fixture(scope="module")
def corpus(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",          # exact dup
        "the quick brown fox jumped over the lazy dog",         # near dup
        "a completely different document about spark joins",
        "der schnelle braune fuchs springt und das ist gut",
        "le renard brun rapide saute et c'est dans la nature",
        "",
    ]
    return spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}))


def test_exact_dedup(corpus):
    out = exact_dedup(corpus, "text", "doc_id").toPandas()
    assert len(out) == 6
    kept = set(out.doc_id)
    assert 0 in kept and 1 not in kept
    assert out.set_index("doc_id").dup_count[0] == 2


def test_minhash_lsh_finds_near_dup(corpus):
    pairs = minhash_lsh(corpus, "text", "doc_id", num_perm=64, bands=16,
                        shingle=4, threshold=0.5).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    assert (0, 1) in got and (0, 2) in got
    assert not any(3 in p for p in got)


def test_simhash_near_dups(corpus):
    pairs = simhash_near_dups(corpus, "text", "doc_id", max_hamming=10).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    assert (0, 1) in got  # identical -> hamming 0
    h = pairs.set_index(["id_a", "id_b"]).hamming
    assert h[(0, 1)] == 0


_PYTHON_NODE = re.compile(r"EvalPython|MapInArrow|MapInPandas")


def test_minhash_lsh_one_verify_node(corpus):
    """The exact-Jaccard verify is one Python node above the two verify
    joins (a filter on a UDF column is pushed below the projection and
    ran the UDF twice)."""
    out = minhash_lsh(corpus, "text", "doc_id", num_perm=64, bands=16,
                      shingle=4, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    above = plan[:plan.index("Join")]
    assert len(_PYTHON_NODE.findall(above)) == 1, plan


def _old_jac():
    """The verify's per-pair pandas UDF body before it became one
    vectorized Arrow pass (nested, so workers get it by value)."""

    def _jac(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = np.empty(len(sa))
        for i, (x, y) in enumerate(zip(sa, sb)):
            x = np.asarray(x, dtype=np.int64)
            y = np.asarray(y, dtype=np.int64)
            if len(x) == 0 and len(y) == 0:
                out[i] = 1.0
                continue
            if len(x) > len(y):
                x, y = y, x
            idx = np.searchsorted(y, x)
            idx[idx == len(y)] = 0
            inter = int((y[idx] == x).sum())
            u = len(x) + len(y) - inter
            out[i] = inter / u if u else 0.0
        return pd.Series(out)

    return _jac


def _verify_pairs_frame(spark):
    rng = np.random.default_rng(5)
    sets = [[], [], [5], [5], [7], [1, 2, 3], [2, 3, 4]]
    sets += [np.unique(rng.integers(-40, 40, rng.integers(0, 30))).tolist()
             for _ in range(40)]
    pairs = [(0, 1), (0, 2), (2, 3), (3, 4), (5, 6)]  # 1.0, 0, 1.0, 0, 0.5
    pairs += [(a, b) for a in range(7, 47) for b in range(a + 1, 47)
              if (a * 7 + b) % 5 == 0]
    return spark.createDataFrame(pd.DataFrame({
        "id_a": [a for a, _b in pairs], "id_b": [b for _a, b in pairs],
        "sa": [sets[a] for a, _b in pairs],
        "sb": [sets[b] for _a, b in pairs]}),
        "id_a long, id_b long, sa array<long>, sb array<long>")


def test_pair_jaccard_matches_reference_loop():
    import pyarrow as pa

    from geopandas_spark.operators.dedup import _pair_jaccard

    rng = np.random.default_rng(3)
    sa, sb = [], []
    for _ in range(300):
        x = np.unique(rng.integers(0, 50, rng.integers(0, 12)))
        y = np.unique(rng.integers(0, 50, rng.integers(0, 12)))
        sa.append(x.tolist())
        sb.append(y.tolist())
    sa += [[], [], [9]]
    sb += [[], [9], [9]]
    t = pa.list_(pa.int64())
    got = _pair_jaccard(pa.array(sa, t), pa.array(sb, t))
    want = _old_jac()(pd.Series(sa), pd.Series(sb)).to_numpy()
    assert np.array_equal(got, want)
    assert list(got[-3:]) == [1.0, 0.0, 1.0]
    # a slice keeps its own rows
    sl = _pair_jaccard(pa.array(sa, t).slice(100, 50),
                       pa.array(sb, t).slice(100, 50))
    assert np.array_equal(sl, want[100:150])


def test_verify_pairs_matches_udf_and_filter(spark):
    from pyspark.sql.functions import pandas_udf

    from geopandas_spark.operators.dedup import _verify_pairs

    cand = _verify_pairs_frame(spark)
    jac = pandas_udf(_old_jac(), "double")

    def rows(d):
        return sorted(tuple(r) for r in d.collect())

    for threshold in (0.0, 0.5, 0.7):
        old = (cand.withColumn("jaccard", jac("sa", "sb"))
               .filter(F.col("jaccard") >= threshold)
               .select("id_a", "id_b", "jaccard"))
        new = _verify_pairs(cand, threshold)
        assert new.columns == ["id_a", "id_b", "jaccard"]
        got = rows(new)
        assert got == rows(old)
        if threshold == 0.5:
            assert (5, 6, 0.5) in got and (0, 1, 1.0) in got
            assert (2, 3, 1.0) in got and not {(0, 2), (3, 4)} & {
                r[:2] for r in got}


def test_ngram_jaccard(corpus):
    pairs = ngram_jaccard(corpus, "text", "doc_id", n=3,
                          threshold=0.3).toPandas()
    got = {tuple(p): j for *p, j in
           zip(pairs.id_a, pairs.id_b, pairs.jaccard)}
    assert got[(0, 1)] == 1.0                      # identical docs
    # one word changed: 3 of 7 trigrams differ -> 4/10 exactly
    assert abs(got[(0, 2)] - 0.4) < 1e-12
    assert not any(3 in p for p in got)            # unrelated doc


def test_word_ngrams_edge_whitespace(spark):
    """A trailing newline must not change a document's gram set (F.trim
    strips only spaces; the tokenizer regex-strips all \\s)."""
    from geopandas_spark.operators.dedup import ngram_jaccard

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["alpha beta gamma delta", "alpha beta gamma delta\n"]}))
    pairs = ngram_jaccard(df, "text", "doc_id", n=3, threshold=0.9).toPandas()
    assert len(pairs) == 1 and pairs.jaccard[0] == 1.0


def test_hot_bucket_star_mitigation(spark):
    """10k identical docs: candidate pairs stay O(n), not O(n^2), and the
    duplicates remain transitively linked through the representative."""
    n = 10_000
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(n),
        "text": ["same boilerplate text here"] * n}))
    pairs = simhash_near_dups(df, "text", "doc_id", max_hamming=3,
                              max_bucket=100)
    cnt = pairs.count()
    assert cnt == n - 1  # star: every doc linked to the min-id rep
    sample = pairs.limit(5).toPandas()
    assert (sample.id_a == 0).all() and (sample.hamming == 0).all()


def test_quality_and_tokens(corpus, spark):
    out = quality_columns(corpus).toPandas().set_index("doc_id")
    assert out.n_tokens[0] == 9
    assert out.n_tokens[6] == 0
    assert out.stopword_ratio[0] > 0.2  # 'the' twice + 'over'
    assert 0 <= out.quality_score[0] <= 1.01
    tc = corpus.select(token_count("text").alias("t")).collect()
    assert tc[0]["t"] == 9


def test_lang_id(corpus):
    out = lang_id(corpus).toPandas().set_index("doc_id")
    assert out.lang_pred[0] == "en"
    assert out.lang_pred[4] == "de"
    assert out.lang_pred[5] == "fr"
    assert out.lang_pred[6] == "und"


def test_repetition_stats(spark):
    from geopandas_spark.operators.textstats import repetition_stats

    texts = [
        "the quick brown fox jumps over the lazy dog",   # 'the' twice
        "spam spam spam spam spam",                      # max repetition
        "a b a b a b",                                   # 'a b' x3 bigrams
        "unique words only here",
        "",
        "one",                                           # fewer words than n
        "line\nline\nother",                             # duplicate lines
        "hello world\n",                    # trailing newline: no phantom ''
        "\thi",                             # leading tab: no phantom ''
        None,                               # NULL text: all-zero stats
    ]
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}))
    out = repetition_stats(df, n=2).toPandas().set_index("doc_id")
    assert out.n_words[0] == 9 and out.n_distinct_words[0] == 8
    assert abs(out.dup_word_frac[0] - 1 / 9) < 1e-12
    assert out.top_2gram_n[0] == 1
    # 'spam spam' appears 4 times out of 4 bigrams
    assert out.top_2gram_n[1] == 4 and out.top_2gram_frac[1] == 1.0
    assert out.n_distinct_words[1] == 1
    # alternating: 'a b' 3x, 'b a' 2x over 5 bigrams
    assert out.top_2gram_n[2] == 3
    assert abs(out.top_2gram_frac[2] - 0.6) < 1e-12
    assert out.dup_word_frac[3] == 0.0 and out.top_2gram_n[3] == 1
    assert out.n_words[4] == 0 and out.top_2gram_n[4] == 0
    assert out.dup_word_frac[4] == 0.0 and out.top_2gram_frac[4] == 0.0
    assert out.n_words[5] == 1 and out.top_2gram_n[5] == 0
    assert abs(out.dup_line_frac[6] - 1 / 3) < 1e-12
    assert out.dup_line_frac[0] == 0.0
    # whitespace-exact tokenization: trailing \n / leading \t must not
    # create phantom '' words (F.trim strips only spaces)
    assert out.n_words[7] == 2 and out.top_2gram_n[7] == 1
    assert out.top_2gram_frac[7] == 1.0
    assert out.n_words[8] == 1 and out.n_distinct_words[8] == 1
    # NULL text: deterministic all-zero stats, not NaN
    assert out.n_words[9] == 0 and out.n_distinct_words[9] == 0
    assert out.dup_word_frac[9] == 0.0 and out.top_2gram_n[9] == 0


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1], "text": ["Hello  World", "hello world"]}))
    out = fingerprint(df).toPandas()
    assert out.doc_fp[0] == out.doc_fp[1]


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    base[1] = base[0] + 0.001 * rng.standard_normal(16).astype(np.float32)
    return spark.createDataFrame(pd.DataFrame({
        "vec_id": range(40), "embedding": [v.tolist() for v in base]})), base


def test_cosine_topk_exact(embeddings, spark):
    df, base = embeddings
    q = df.filter(F.col("vec_id") < 3)
    out = cosine_topk(df, q, k=5).toPandas()
    bn = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = bn @ bn[:3].T
    for qid in range(3):
        exp = list(np.argsort(-sims[:, qid])[:5])
        got = list(out[out.query_id == qid].sort_values("rank").corpus_id)
        assert got == exp


def test_embedding_near_dups(embeddings, spark):
    df, base = embeddings
    pairs = embedding_near_dups(df, threshold=0.99).toPandas()
    assert (0, 1) in set(zip(pairs.id_a, pairs.id_b))
    assert len(pairs) == 1  # random gaussians don't collide at 0.99


def test_lsh_topk_recall_sf01(spark):
    """ANN top-k recall >= 0.9 vs brute-force cosine_topk on the driver's
    sf0.1 embeddings table (VERDICT round-1 'done' criterion)."""
    import os

    path = "/root/testdata/sf0.1/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("sf0.1 testdata not present")
    df = spark.read.parquet(path)
    q = df.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    exact = cosine_topk(df, q, k=11).toPandas()
    approx = lsh_topk(df, q, k=11).toPandas()
    recalls = []
    for qid in range(10):
        t = set(exact[(exact.query_id == qid)
                      & (exact.corpus_id != qid)].corpus_id) - {qid}
        a = set(approx[approx.query_id == qid].corpus_id)
        recalls.append(len(t & a) / len(t))
    assert np.mean(recalls) >= 0.9


def test_lsh_topk_clustered_prunes(spark):
    """On clustered data the LSH probe keeps recall ~1 while the bucketed
    candidate set is a small corpus fraction (the 100 TB value prop)."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 32)).astype(np.float32) * 4
    vecs = np.vstack([
        c + 0.3 * rng.standard_normal((100, 32)).astype(np.float32)
        for c in centers
    ])
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(len(vecs)),
        "embedding": [v.tolist() for v in vecs]}))
    q = df.filter(F.col("vec_id").isin([0, 100, 200])).select(
        "vec_id", "embedding")
    exact = cosine_topk(df, q, k=10).toPandas()
    approx = lsh_topk(df, q, k=10, nbits=64, bands=8, probe_bits=1).toPandas()
    for qid in [0, 100, 200]:
        t = list(exact[exact.query_id == qid].sort_values("rank").corpus_id)
        a = set(approx[approx.query_id == qid].corpus_id)
        assert len(set(t) & a) / len(t) >= 0.9
        # same-cluster neighbors dominate the top-k
        assert sum(1 for c in a if c // 100 == qid // 100) >= 8


def test_ivf_topk_recall_sf01(spark):
    """IVF recall vs brute-force cosine_topk on the driver's sf0.1
    embeddings table. These vectors are UNIFORM random (IVF's worst
    case: no cluster structure, so recall tracks the probed fraction);
    at n_probe/n_centroids = 0.5 the quantizer must still beat the
    random-pruning baseline (recall 0.5) by a clear margin. The >=0.9
    bar on data WITH structure is test_ivf_topk_clustered_prunes."""
    import os

    path = "/root/testdata/sf0.1/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("sf0.1 testdata not present")
    df = spark.read.parquet(path)
    q = df.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    exact = cosine_topk(df, q, k=11).toPandas()
    approx = ivf_topk(df, q, k=11, n_centroids=32, n_probe=16).toPandas()
    recalls = []
    for qid in range(10):
        t = set(exact[(exact.query_id == qid)
                      & (exact.corpus_id != qid)].corpus_id) - {qid}
        a = set(approx[approx.query_id == qid].corpus_id)
        recalls.append(len(t & a) / len(t))
    assert np.mean(recalls) >= 0.75  # probe fraction 0.5 + quantizer margin


def test_ivf_topk_clustered_prunes(spark):
    """On clustered data the quantizer adapts: n_probe/n_centroids (25%)
    of the corpus is scanned per query with recall >=0.9 (IVF's value
    prop over the data-oblivious LSH S-curve)."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 32)).astype(np.float32) * 4
    vecs = np.vstack([
        c + 0.3 * rng.standard_normal((100, 32)).astype(np.float32)
        for c in centers
    ])
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(len(vecs)),
        "embedding": [v.tolist() for v in vecs]}))
    q = df.filter(F.col("vec_id").isin([0, 100, 200])).select(
        "vec_id", "embedding")
    exact = cosine_topk(df, q, k=10).toPandas()
    approx = ivf_topk(df, q, k=10, n_centroids=16, n_probe=4,
                      iters=3).toPandas()
    for qid in [0, 100, 200]:
        t = list(exact[exact.query_id == qid].sort_values("rank").corpus_id)
        a = set(approx[approx.query_id == qid].corpus_id)
        assert len(set(t) & a) / len(t) >= 0.9


def test_ivf_centroids_deterministic(spark):
    """Same seed -> bit-identical quantizer (no executor RNG state)."""
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(200), "embedding": [v.tolist() for v in vecs]}))
    c1 = train_ivf_centroids(df, n_centroids=8, iters=2)
    c2 = train_ivf_centroids(df, n_centroids=8, iters=2)
    assert np.array_equal(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-5)


def test_multimodal_plumbing(spark):
    from geopandas_spark.operators.multimodal import (
        decode_metadata, frame_sample, image_features, resize_image,
        synthesize_media)

    refs = spark.createDataFrame(pd.DataFrame(
        {"media_ref": ["img://a", "aud://b", None]}))
    mm = synthesize_media(refs)
    meta = decode_metadata(mm)
    rows = {r["media_ref"]: r for r in meta.select("media_ref", "media_meta.*").collect()}
    assert rows["img://a"]["kind"] == "image" and rows["img://a"]["channels"] == 3
    assert rows["aud://b"]["sample_rate"] == 16000
    assert rows[None]["kind"] is None
    feat = image_features(mm).filter(F.col("media_feat").isNotNull()).collect()
    assert len(feat) == 1 and abs(
        sum(v * v for v in feat[0]["media_feat"]) - 1.0) < 1e-5
    rz = decode_metadata(
        resize_image(mm.filter(F.col("media_ref") == "img://a"), 8, 6),
        "media_resized")
    r = rz.select("media_meta.width", "media_meta.height").collect()[0]
    assert (r["width"], r["height"]) == (8, 6)
    fs = frame_sample(decode_metadata(mm), every_n=100)
    arr = fs.filter(F.col("media_ref") == "aud://b").collect()[0]["frame_indices"]
    assert arr[0] == 0 and arr[1] == 100
    # real codec bytes raise NotImplementedError (documented stub)
    bad = spark.createDataFrame(pd.DataFrame({"media_bytes": [b"\x89PNG1234"]}))
    import pyspark.errors

    with pytest.raises(Exception, match="NotImplementedError|real media"):
        decode_metadata(bad).collect()


def test_multimodal_real_codecs(spark):
    """fmt='real' emits genuine PNG/BMP/WAV (operators/codecs.py); every
    stage decodes them to the SAME values as the fake payloads (identical
    seeded pixels/samples), so fake vs real outputs must agree."""
    from geopandas_spark.operators.multimodal import (
        audio_features, decode_metadata, image_features, resize_image,
        synthesize_media)

    refs = spark.createDataFrame(pd.DataFrame(
        {"media_ref": [f"img://{i}" for i in range(6)]
         + [f"aud://{i}" for i in range(3)]}))
    fake = synthesize_media(refs, fmt="fake")
    real = synthesize_media(refs, fmt="real")

    # container magics really differ
    blobs = {r["media_ref"]: bytes(r["media_bytes"])
             for r in real.collect()}
    assert any(b[:8] == b"\x89PNG\r\n\x1a\n" for b in blobs.values())
    assert any(b[:2] == b"BM" for b in blobs.values())
    assert all(b[:4] == b"RIFF" for k, b in blobs.items()
               if k.startswith("aud://"))

    # metadata parity
    mf = {r["media_ref"]: r for r in decode_metadata(fake)
          .select("media_ref", "media_meta.*").collect()}
    mr = {r["media_ref"]: r for r in decode_metadata(real)
          .select("media_ref", "media_meta.*").collect()}
    for k in mf:
        for fld in ("kind", "width", "height", "channels", "sample_rate",
                    "n_samples"):
            assert mf[k][fld] == mr[k][fld], (k, fld)

    # pixel-level parity: histogram features identical fake vs real
    ff = {r["media_ref"]: r["media_feat"] for r in image_features(fake)
          .filter(F.col("media_feat").isNotNull()).collect()}
    fr = {r["media_ref"]: r["media_feat"] for r in image_features(real)
          .filter(F.col("media_feat").isNotNull()).collect()}
    assert set(ff) == set(fr) and len(ff) == 6
    for k in ff:
        assert ff[k] == fr[k], k

    # resize re-encodes in the source container and keeps values
    rz = resize_image(real.filter(F.col("media_ref").startswith("img")),
                      5, 4, out_col="media_resized")
    for r in rz.collect():
        out = bytes(r["media_resized"])
        assert out[:8] == b"\x89PNG\r\n\x1a\n" or out[:2] == b"BM"
    meta = decode_metadata(rz, "media_resized")
    for r in meta.select("media_meta.width", "media_meta.height").collect():
        assert (r["width"], r["height"]) == (5, 4)

    # audio features agree between containers and are sane
    af = {r["media_ref"]: r["audio_feat"] for r in audio_features(fake)
          .filter(F.col("audio_feat").isNotNull()).collect()}
    ar = {r["media_ref"]: r["audio_feat"] for r in audio_features(real)
          .filter(F.col("audio_feat").isNotNull()).collect()}
    assert set(af) == set(ar) and len(af) == 3
    for k in af:
        assert af[k] == pytest.approx(ar[k], abs=1e-6)
        rms, zcr, peak = af[k]
        assert 0 < rms <= 1 and 0 <= zcr <= 1 and 0 < peak <= 1


def test_geocode_gazetteer_and_provider(spark):
    """tools/geocoding.py:8-147 parity, Spark-first: gazetteer broadcast
    join + kNN reverse + pluggable batch provider."""
    from geopandas_spark.functions.st import st_x, st_y
    from geopandas_spark.operators.geocode import geocode, reverse_geocode

    gaz = spark.createDataFrame(pd.DataFrame({
        "address": ["Alpha City", "Beta Town", "Gamma Falls"],
        "x": [0.1, 0.5, 0.9], "y": [0.2, 0.5, 0.8]}))
    q = spark.createDataFrame(pd.DataFrame({
        "address": ["alpha  city", "BETA, TOWN", "nowhere"], "k": [1, 2, 3]}))
    out = geocode(q, gaz).orderBy("k")
    rows = out.select("k", "matched_address",
                      st_x("geometry").alias("x")).collect()
    assert rows[0]["matched_address"] == "Alpha City"
    assert rows[0]["x"] == pytest.approx(0.1)
    assert rows[1]["matched_address"] == "Beta Town"
    assert rows[2]["matched_address"] is None
    assert out.count() == 3  # exactly one row out per row in

    # provider callable (geopy adapter slot): batch in, (x,y)|None out
    def prov(batch):
        return [(0.25, 0.75) if "alpha" in a.lower() else None
                for a in batch]

    p = geocode(q, provider=prov).orderBy("k")
    prow = p.select("k", st_x("geometry").alias("x"),
                    st_y("geometry").alias("y")).collect()
    assert (prow[0]["x"], prow[0]["y"]) == (0.25, 0.75)
    assert prow[1]["x"] is None

    # reverse: nearest gazetteer entry per point
    from geopandas_spark.functions.st import st_point as _sp
    pts = spark.createDataFrame(pd.DataFrame(
        {"px": [0.12, 0.88], "py": [0.22, 0.79], "k": [1, 2]})).select(
        "k", _sp("px", "py").alias("geometry"))
    rev = reverse_geocode(pts, gaz).orderBy("k").collect()
    assert [r["rev_address"] for r in rev] == ["Alpha City", "Gamma Falls"]
    assert rev[0]["rev_distance"] == pytest.approx(
        ((0.12 - 0.1) ** 2 + 0.02 ** 2) ** 0.5)


def test_render_png(spark):
    """plot-parity render sink: distributed pixel aggregation -> real PNG
    (plotting.py:207 scope re-expressed; datashader-style shape)."""
    from geopandas_spark.functions.st import st_geomfromtext
    from geopandas_spark.operators.codecs import decode_png, png_info
    from geopandas_spark.operators.render import render_counts, render_png

    wkts = (["POLYGON ((0.1 0.1, 0.5 0.1, 0.5 0.5, 0.1 0.5, 0.1 0.1))"]
            + ["POINT (0.9 0.9)"] * 5
            + ["LINESTRING (0 1, 1 0)"])
    df = spark.createDataFrame(pd.DataFrame({"wkt": wkts})).select(
        st_geomfromtext("wkt").alias("geometry"))
    png = render_png(df, 32, 32, bbox=(0, 0, 1, 1))
    assert png_info(png) == (32, 32, 1)
    img = decode_png(png)[:, :, 0]
    # polygon interior (frame y flipped: y=0.3 -> row ~22) is dark
    assert img[22, 10] < 255
    # the 5-point stack is darker than single-feature pixels
    assert img[3, 28] < img[22, 10]
    # empty region (off the diagonal, outside the polygon) stays white
    assert img[5, 2] == 255
    # diagonal line hits (0.5, 0.5) -> row 15..16, col 15..16 region
    assert img[15:17, 15:17].min() < 255
    # counts are exact for the point stack
    cnts = {r["pixel"]: r["n"] for r in
            render_counts(df, 32, 32, bbox=(0, 0, 1, 1)).collect()}
    assert cnts[28 * 32 + 28] == 5


def test_plot_column_and_explore(spark, tmp_path):
    """plot(column=) choropleth + explore HTML sink (plotting.py:252
    color-by-value, explore.py:15 re-expressed as distributed render)."""
    from geopandas_spark.functions.st import st_geomfromtext
    from geopandas_spark.operators.codecs import decode_png, png_info
    from geopandas_spark.operators.render import plot, render_values

    wkts = ["POLYGON ((0 0, 0.4 0, 0.4 0.4, 0 0.4, 0 0))",
            "POLYGON ((0.6 0.6, 1 0.6, 1 1, 0.6 1, 0.6 0.6))"]
    df = spark.createDataFrame(
        pd.DataFrame({"wkt": wkts, "v": [0.0, 10.0]})).select(
        "v", st_geomfromtext("wkt").alias("geometry"))

    png = plot(df, column="v", width=20, height=20, bbox=(0, 0, 1, 1))
    assert png_info(png) == (20, 20, 3)
    img = decode_png(png)
    # low-value square (bottom-left -> image rows near the bottom) maps
    # to the viridis low end (dark purple), high-value square to yellow
    low, high = img[16, 3], img[3, 16]
    assert tuple(low) == (68, 1, 84)
    assert tuple(high) == (253, 231, 37)
    # empty background stays white
    assert tuple(img[10, 10]) == (255, 255, 255)

    # per-pixel aggregates are exact: overlapping squares average
    wkts2 = ["POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
             "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"]
    df2 = spark.createDataFrame(
        pd.DataFrame({"wkt": wkts2, "v": [2.0, 4.0]})).select(
        "v", st_geomfromtext("wkt").alias("geometry"))
    vals = {r["pixel"]: r["v"] for r in
            render_values(df2, "v", 4, 4, bbox=(0, 0, 1, 1)).collect()}
    assert all(v == 3.0 for v in vals.values()) and len(vals) == 16

    # explore writes a self-contained HTML with the PNG inlined
    from geopandas_spark.frame import GeoFrame

    gf = GeoFrame(df, "geometry")
    out = gf.explore(str(tmp_path / "m.html"), column="v", width=16,
                     height=16, bbox=(0, 0, 1, 1))
    html = open(out).read()
    assert "data:image/png;base64," in html and "[0, 0, 1, 1]" in html
    assert gf.plot(width=8, height=8, bbox=(0, 0, 1, 1))[:4] == b"\x89PNG"


def test_patterned_media_exact_stats(spark):
    """synthesize_patterned_media pushes closed-form pixels/samples
    through the REAL containers; image_stats/audio_stats recover the
    pattern exactly (the driver-gate contract for media_image_stats /
    media_audio_stats)."""
    from geopandas_spark.operators.multimodal import (
        audio_stats, image_stats, synthesize_patterned_media)

    keys = spark.createDataFrame([(2,), (17,), (40,)], "k long").unionAll(
        spark.sql("SELECT CAST(NULL AS LONG) AS k"))
    img = image_stats(synthesize_patterned_media(keys, "k", kind="image"))
    rows = {r["k"]: r for r in img.select("k", "img_stat.*").collect()}
    # closed form for k=2 (PNG path): w=6, h=4, min=2, mean exact
    s = sum((x + 3 * y + 7 * ch + 2) % 256
            for x in range(6) for y in range(4) for ch in range(3))
    assert (rows[2]["width"], rows[2]["height"]) == (6, 4)
    assert rows[2]["min_px"] == 2
    assert rows[2]["mean_px"] == s / (6 * 4 * 3)
    # k=17 rides the BMP path; shape formula holds there too
    assert (rows[17]["width"], rows[17]["height"]) == (4 + 17 % 13, 5)
    assert rows[None]["width"] is None

    aud = audio_stats(synthesize_patterned_media(keys, "k", kind="audio"))
    arow = {r["k"]: r for r in aud.select("k", "aud_stat.*").collect()}[17]
    sig = [((40503 * i + 2654435761 * 17) % 65536) - 32768
           for i in range(64 + 17 % 128)]
    assert arow["n_samples"] == len(sig)
    assert arow["peak"] == max(abs(v) for v in sig)
    assert arow["n_zc"] == sum(1 for a, b in zip(sig, sig[1:])
                               if (a < 0) != (b < 0))
    import math
    acc = 0.0
    for v in sig:
        acc += (v / 32768.0) ** 2
    assert arow["rms"] == math.sqrt(acc / len(sig))


def test_patterned_media_video_frames(spark):
    """MJPEG-AVI patterned payloads: frame count, sampled count and JPEG
    SOF dims are closed-form (driver-gate contract for
    media_video_frames)."""
    from geopandas_spark.operators.codecs import jpeg_info
    from geopandas_spark.operators.multimodal import (
        extract_frames, synthesize_patterned_media)

    keys = spark.createDataFrame(pd.DataFrame({"k": [3, 9, 55]}))
    vid = extract_frames(
        synthesize_patterned_media(keys, "k", kind="video"), every_n=2)
    for r in vid.select("k", "frames").collect():
        k = r["k"]
        nf = 2 + k % 4
        assert len(r["frames"]) == (nf + 1) // 2
        w, h, _c = jpeg_info(bytes(r["frames"][0]))
        assert (w, h) == (8 + k % 9, 8 + (k // 9) % 7)


def test_decontaminate(spark):
    """Eval-set n-gram overlap: counts, flag threshold, all rows
    survive, and the benchmark side broadcasts (no corpus shuffle)."""
    from geopandas_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["the quick brown fox jumps",
                 "the quick brown fox sleeps",   # shares 2 trigrams w/ b1
                 "completely different words here",
                 "short"],                       # < n tokens
    }))
    bench = spark.createDataFrame(pd.DataFrame({
        "text": ["the quick brown fox jumps high", "short"]}))
    out = decontaminate(docs, bench, n=3, min_overlap=2)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 4
    # doc1: trigrams {the quick brown, quick brown fox, brown fox jumps}
    # all three appear in bench text 1
    assert rows[1]["n_overlap"] == 3 and rows[1]["contaminated"]
    assert rows[2]["n_overlap"] == 2 and rows[2]["contaminated"]
    assert rows[3]["n_overlap"] == 0 and not rows[3]["contaminated"]
    # whole-short-text gram matches the bench's whole-short-text gram
    assert rows[4]["n_overlap"] == 1 and not rows[4]["contaminated"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_topk_string_query_ids(spark):
    """Query ids keep their native type (round-4 review fix: int()
    coercion crashed on string ids)."""
    rng = np.random.default_rng(9)
    base = rng.standard_normal((30, 8)).astype(np.float32)
    corpus = spark.createDataFrame(pd.DataFrame({
        "vec_id": [f"c{i}" for i in range(30)],
        "embedding": [v.tolist() for v in base]}))
    queries = corpus.limit(2)
    out = cosine_topk(corpus, queries, k=3).toPandas()
    assert set(out.query_id) == {"c0", "c1"}
    assert out.corpus_id.str.startswith("c").all()
    out2 = lsh_topk(corpus, queries, k=3, nbits=16, bands=4).toPandas()
    assert set(out2.query_id) <= {"c0", "c1"}
    out3 = ivf_topk(corpus, queries, k=3, n_centroids=4, iters=1).toPandas()
    assert set(out3.query_id) == {"c0", "c1"}


def test_lsh_band_geometry_guard(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": [0], "embedding": [[0.1] * 8]}))
    with pytest.raises(ValueError, match="63"):
        lsh_topk(df, df, nbits=64, bands=1)
    with pytest.raises(ValueError, match="divide"):
        embedding_near_dups(df, nbits=64, bands=5)


def test_pii_scrub(spark):
    """pii_scrub (operators/textstats.py): counts on the original text,
    ordered first-pattern-wins scrubbing, null-safe, unknown kinds
    raise."""
    import pandas as pd
    import pytest

    from geopandas_spark.operators.textstats import pii_scrub

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "mail a.b+c@ex.com and d@sub.ex.org twice",
            "call 555-123-4567 or +1 555.123.4567; ssn 123-45-6789",
            "server 10.0.0.1 and 192.168.255.3",
            None,
        ]}))
    out = pii_scrub(df).orderBy("doc_id").toPandas()
    assert list(out.n_email) == [2, 0, 0, 0]
    assert list(out.n_phone) == [0, 2, 0, 0]
    assert list(out.n_ssn) == [0, 1, 0, 0]
    assert list(out.n_ipv4) == [0, 0, 2, 0]
    assert out.text_scrubbed[0] == "mail [email] and [email] twice"
    assert "[phone]" in out.text_scrubbed[1] and "[ssn]" in out.text_scrubbed[1]
    assert out.text_scrubbed[2] == "server [ipv4] and [ipv4]"
    assert out.text_scrubbed[3] == ""  # null-safe
    with pytest.raises(ValueError, match="unknown PII"):
        pii_scrub(df, kinds=("email", "iban"))


def test_pii_and_split_plans_are_pure_catalyst(spark):
    """pii_scrub and hash_split are compliance/split passes that must
    scale as plain projections: no Exchange of any kind, no Python UDF
    stage (pure JVM codegen), on either operator's plan."""
    import pandas as pd

    from geopandas_spark.operators.dedup import hash_split
    from geopandas_spark.operators.textstats import pii_scrub

    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a@b.co", "x"]}))
    for out in (pii_scrub(df), hash_split(df, "doc_id")):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_hash_split_properties(spark):
    """hash_split: deterministic, exhaustive, stable under salt change
    only, fractions validated, approximate proportions at 5k keys."""
    import pandas as pd
    import pytest

    from geopandas_spark.operators.dedup import hash_split

    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(5000)}))
    a = hash_split(df, "doc_id").toPandas().set_index("doc_id")["split"]
    b = hash_split(df, "doc_id").toPandas().set_index("doc_id")["split"]
    assert (a == b).all()  # deterministic
    frac = a.value_counts(normalize=True)
    assert abs(frac["train"] - 0.9) < 0.02
    assert abs(frac.get("val", 0) - 0.05) < 0.02
    assert abs(frac.get("test", 0) - 0.05) < 0.02
    c = hash_split(df, "doc_id", salt="other").toPandas()\
        .set_index("doc_id")["split"]
    assert (a != c).any()  # salt moves assignments
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "doc_id", {"train": 0.5, "val": 0.1})
    with pytest.raises(ValueError, match="must not be empty"):
        hash_split(df, "doc_id", {})
