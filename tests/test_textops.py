"""Training-data ops: dedup family, similarity search, text quality."""

from __future__ import annotations

import re
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from quant_feature_pipeline_spark.operators.dedup import dedup_exact
from quant_feature_pipeline_spark.textops import dedup as dedup_mod
from quant_feature_pipeline_spark.textops.dedup import (
    minhash_lsh_dup_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_dup_pairs,
)
from quant_feature_pipeline_spark.textops.quality import (
    fingerprint,
    langid_heuristic,
    quality_scores,
    token_count,
)
from quant_feature_pipeline_spark.textops.similarity import (
    cosine_topk_bruteforce,
    embedding_near_dup_pairs,
)


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog near the river bend today"),  # near dup of 0
        (3, "el rapido zorro marron salta sobre el perro perezoso junto la orilla"),
        (4, "der schnelle braune fuchs springt uber den faulen hund und das ufer"),
        (5, "completely different content about spark window aggregation engines"),
        (6, "THE QUICK BROWN FOX! jumps over the lazy dog near the river bank today"),  # fmt-only edit of 0
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_dedup_exact(spark):
    docs = _docs(spark)
    kept = dedup_exact(docs, order_col="doc_id").toPandas()
    assert 1 not in kept["doc_id"].tolist()
    assert 0 in kept["doc_id"].tolist()


def test_minhash_lsh_finds_near_dups(spark):
    docs = _docs(spark)
    pairs = minhash_lsh_dup_pairs(
        docs, num_perm=64, bands=16, jaccard_threshold=0.5
    ).toPandas()
    found = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 1) in found  # exact dup always caught
    assert (0, 2) in found  # one-word edit
    assert not any(5 in p for p in found)


def test_minhash_jaccard_exactness(spark):
    """The jaccard column on verified pairs is EXACT (computed on shingle
    sets), so (0,1) must be 1.0."""
    docs = _docs(spark)
    pairs = minhash_lsh_dup_pairs(docs, jaccard_threshold=None).toPandas()
    j01 = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]["jaccard"]
    assert len(j01) == 1 and j01.iloc[0] == 1.0


def test_minhash_jaccard_matches_jvm_ngram_path(spark):
    """minhash's verify stage computes jaccard from the _py_shingle_set
    twin in an Arrow stage; ngram_jaccard_pairs computes it from the JVM
    shingle expression. On every pair both emit, the values must be
    IDENTICAL — this pins the Python twin to the JVM tokenizer."""
    docs = _docs(spark)
    mh = minhash_lsh_dup_pairs(docs, jaccard_threshold=None).toPandas()
    ng = ngram_jaccard_pairs(docs).toPandas()
    merged = mh.merge(ng, on=["id_a", "id_b"], suffixes=("_mh", "_ng"))
    assert len(merged) > 0
    assert (merged["jaccard_mh"] == merged["jaccard_ng"]).all(), merged


def test_simhash_pairs(spark):
    """The pigeonhole block join returns exactly the brute-force pairs:
    every pair within _MAX_HAMMING bits, with its popcount, and no
    other pair. Recall holds only while _MAX_HAMMING < the block count."""
    assert dedup_mod._MAX_HAMMING < dedup_mod._SIMHASH_BLOCKS
    docs = _docs(spark)
    sims = dict(simhash64(docs).select("doc_id", "simhash").collect())
    want = {
        (a, b): bin((sims[a] ^ sims[b]) & (2**64 - 1)).count("1")
        for a, b in combinations(sorted(sims), 2)
    }
    want = {k: h for k, h in want.items() if h <= dedup_mod._MAX_HAMMING}
    pairs = simhash_dup_pairs(docs).toPandas()
    got = {(a, b): h for a, b, h in zip(pairs.id_a, pairs.id_b, pairs.hamming)}
    assert got == want
    assert got[(0, 1)] == 0


def _shingle_set(text: str) -> set[str]:
    """Word 3-grams after lower-casing and dropping punctuation."""
    words = re.sub(r"[^\w\s]", "", text.lower()).split()
    return {" ".join(words[i:i + 3]) for i in range(max(len(words) - 3, 0) + 1)}


def test_ngram_jaccard_pairs(spark):
    """Exactly the brute-force pairs with 3-gram Jaccard >= 0.5, each with
    its exact Jaccard."""
    docs = _docs(spark)
    pdf = docs.toPandas()
    sets = {i: _shingle_set(t) for i, t in zip(pdf.doc_id, pdf.text)}
    want = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a, b in combinations(sorted(sets), 2)
    }
    want = {k: j for k, j in want.items() if j >= 0.5}
    pairs = ngram_jaccard_pairs(docs).toPandas()
    got = {(a, b): j for a, b, j in zip(pairs.id_a, pairs.id_b, pairs.jaccard)}
    assert got == want
    assert (0, 1) in got and (0, 2) in got
    # formatting-only edit: same after normalization -> jaccard 1.0
    assert got[(0, 6)] == 1.0


def test_quality_and_langid_and_tokens(spark):
    docs = _docs(spark)
    q = quality_scores(docs).toPandas().set_index("doc_id")
    assert (q["q_score"].between(0, 1)).all()
    assert q.loc[0, "q_stopword_ratio"] > 0
    lang = langid_heuristic(docs).toPandas().set_index("doc_id")
    assert lang.loc[0, "lang_pred"] == "en"
    assert lang.loc[3, "lang_pred"] == "es"
    assert lang.loc[4, "lang_pred"] == "de"
    tc = token_count(docs).toPandas().set_index("doc_id")
    assert tc.loc[0, "n_tokens"] == 14
    fp = fingerprint(docs).toPandas().set_index("doc_id")
    assert fp.loc[0, "doc_fingerprint"] == fp.loc[6, "doc_fingerprint"]
    assert fp.loc[0, "doc_fingerprint"] != fp.loc[2, "doc_fingerprint"]


def _vecs(spark, n=40, dim=8, seed=3):
    rng = np.random.RandomState(seed)
    v = rng.randn(n, dim)
    v[1] = v[0] + 1e-3  # near dup of 0
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [r.astype("float32").tolist() for r in v]})
    return spark.createDataFrame(pdf), v


def test_cosine_topk_vs_numpy(spark):
    df, v = _vecs(spark)
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk_bruteforce(df, q, k=4).toPandas()
    v64 = np.array([np.array(x, dtype=np.float32).astype(np.float64) for x in v])
    norms = np.linalg.norm(v64, axis=1)
    for qid in range(3):
        cos = (v64 @ v64[qid]) / (norms * norms[qid])
        order = np.lexsort((np.arange(len(cos)), -cos))[:4]
        g = got[got.query_id == qid].sort_values("rank")
        assert g["vec_id"].tolist() == order.tolist()
        np.testing.assert_allclose(g["cosine"].to_numpy(), cos[order], rtol=1e-9)


def test_embedding_near_dup_vs_numpy(spark):
    df, v = _vecs(spark)
    got = embedding_near_dup_pairs(df, cosine_threshold=0.99).toPandas()
    found = set(map(tuple, got[["id_a", "id_b"]].to_numpy()))
    assert (0, 1) in found  # the planted near-dup
    v64 = np.array([np.array(x, dtype=np.float32).astype(np.float64) for x in v])
    u = v64 / np.linalg.norm(v64, axis=1)[:, None]
    cos = u @ u.T
    want = {
        (i, j) for i in range(len(v)) for j in range(i + 1, len(v))
        if cos[i, j] >= 0.99
    }
    assert found == want


def test_ivf_topk_self_hit_and_cosine_parity(spark):
    """IVF: a query identical to a corpus vector probes its own cell and
    finds itself; every IVF hit's cosine equals the brute-force cosine."""
    from quant_feature_pipeline_spark.textops.similarity import ivf_topk

    df, _ = _vecs(spark, n=60, dim=8)
    q = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_topk(df, q, k=3, n_cells=4, nprobe=2, dim=8).toPandas()
    for qid in range(4):
        g = got[got.query_id == qid]
        assert len(g) <= 3 and qid in set(g["vec_id"])  # self always found
    brute = cosine_topk_bruteforce(df, q, k=60).toPandas()
    m = got.merge(brute, on=["query_id", "vec_id"], suffixes=("_ivf", "_bf"))
    assert len(m) == len(got)
    np.testing.assert_allclose(m["cosine_ivf"], m["cosine_bf"], rtol=1e-9)


def test_ivf_train_matches_numpy_lloyd(spark):
    """Distributed Lloyd == single-machine numpy Lloyd from the same
    seeded init (allclose; float summation order differs), and the
    trained quantizer plugs into ivf_topk with exact cosine parity."""
    from quant_feature_pipeline_spark.textops.similarity import (
        ivf_centroids,
        ivf_topk,
        ivf_train,
    )

    rng = np.random.RandomState(3)
    # 3 well-separated planted clusters in 8-d
    centers = rng.randn(3, 8) * 0.1 + np.array([[0] * 8, [5] * 8, [-5] * 8])
    pts = np.concatenate([c + 0.05 * rng.randn(40, 8) for c in centers])
    pdf = pd.DataFrame(
        {"vec_id": range(len(pts)), "embedding": [list(map(float, p)) for p in pts]}
    )
    df = spark.createDataFrame(pdf)

    got = np.array(ivf_train(df, n_cells=3, dim=8, iters=3))

    # numpy Lloyd, same init / same iteration count
    cents = np.array(ivf_centroids(8, 3))
    for _ in range(3):
        d = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for i in range(3):
            if (assign == i).any():
                cents[i] = pts[assign == i].mean(axis=0)
    np.testing.assert_allclose(got, cents, rtol=1e-9, atol=1e-12)

    # trained centroids drive ivf_topk: self-hit + exact cosine parity
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(df, q, k=3, nprobe=1, dim=8, centroids=got.tolist()).toPandas()
    for qid in range(3):
        assert qid in set(out[out.query_id == qid]["vec_id"])


def test_ivf_persisted_centroids_serve_path(spark, tmp_path):
    """VERDICT r4 item 4: the trained quantizer persists like
    FlagshipStats — first call trains AND saves, second call loads
    without touching the data, centroids and top-k are bit-identical."""
    from quant_feature_pipeline_spark.textops.similarity import (
        ivf_topk,
        ivf_train,
        ivf_train_or_load,
        load_ivf_centroids,
    )

    rng = np.random.RandomState(5)
    pts = rng.randn(120, 8)
    pdf = pd.DataFrame(
        {"vec_id": range(len(pts)), "embedding": [list(map(float, p)) for p in pts]}
    )
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "ivf_centroids.json")

    trained = ivf_train_or_load(df, path, n_cells=4, dim=8, iters=2)
    # artifact round-trips bit-exactly
    assert load_ivf_centroids(path) == trained
    assert trained == ivf_train(df, n_cells=4, dim=8, iters=2)
    # serve path: a poisoned frame proves load() never recomputes
    poisoned = spark.createDataFrame(
        pdf.assign(embedding=[list(map(float, -p)) for p in pts])
    )
    served = ivf_train_or_load(poisoned, path, n_cells=4, dim=8, iters=2)
    assert served == trained

    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = ivf_topk(df, q, k=3, nprobe=2, dim=8, centroids=trained).toPandas()
    b = ivf_topk(df, q, k=3, nprobe=2, dim=8, centroids=served).toPandas()
    assert a.equals(b)


def test_ivf_train_null_embeddings_and_fold_order(spark):
    """ADVICE r4: a NULL embedding row must not crash training (it is
    excluded — no signal for the quantizer), and the skew-guard
    sequential row fold is bit-equal to np.add.reduce over axis 0 (the
    fast path), so a cell crossing the 262k threshold cannot change the
    trained centroids."""
    from quant_feature_pipeline_spark.textops.similarity import ivf_train

    rng = np.random.RandomState(11)
    pts = rng.randn(50, 6)
    rows = [
        {"vec_id": i, "embedding": list(map(float, p))} for i, p in enumerate(pts)
    ]
    rows.append({"vec_id": 50, "embedding": None})
    df = spark.createDataFrame(
        pd.DataFrame(rows), schema="vec_id long, embedding array<double>"
    )
    with_null = ivf_train(df, n_cells=3, dim=6, iters=2)
    without = ivf_train(df.filter("embedding is not null"), n_cells=3, dim=6, iters=2)
    assert with_null == without

    # fold-order equivalence backing the huge-cell fallback
    m = rng.randn(300_001, 7)
    fast = np.add.reduce(m, axis=0)
    slow = np.zeros(7)
    for r in m:
        slow += r
    assert np.array_equal(fast, slow)
