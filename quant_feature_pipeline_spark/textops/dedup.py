"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB): never compare all pairs. MinHash signatures are
computed JVM-side (shingle → xxhash64 per seed → array_min), banded, and
candidate pairs come from an equi-join on (band_idx, band_hash) — the
classic shingle→minhash→band→bucket-join pipeline. The only shuffle keys
are 8-byte band hashes. SimHash uses one vectorized Arrow pandas_udf
(numpy bit-packing; no built-in expresses 64-lane bit voting cleanly) and
then exact/1-2-bit-probe bucket joins. Verification (exact Jaccard on
candidate pairs) uses array_intersect/array_union on the (bounded)
shingle arrays.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T


# word n-gram size of every shingle set (MinHash and exact Jaccard), and
# the seed of the MinHash permutation parameters
_SHINGLE_N = 3
_MINHASH_SEED = 1315423911


def shingles(text_col: str, out: str = "shingles"):
    """Distinct word ``_SHINGLE_N``-gram array (JVM-side)."""
    n = _SHINGLE_N
    words = F.split(F.trim(F.lower(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
    ).alias(out)


# candidate buckets above this many ids are dropped: a bucket of k ids
# emits k·(k-1)/2 pairs
_MAX_BUCKET = 1024
# shingles shared by more than this many documents are dropped: a
# shingle in k documents fans out k² pair rows
_MAX_DOC_FREQ = 1000
# SimHash pairs within this many differing bits. The pigeonhole join
# finds all of them only while _MAX_HAMMING < _SIMHASH_BLOCKS: a pair
# differing in fewer bits than there are blocks agrees on a whole block
_MAX_HAMMING = 3
_SIMHASH_BLOCKS = 4
# exact n-gram Jaccard pairs at or above this similarity
_JACCARD_THRESHOLD = 0.5


def _minhash_perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic odd multipliers + offsets for wraparound
    multiplicative permutation hashing h_i(x) = a_i*x + b_i (mod 2^64)."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 2**63 - 1, size=num_perm, dtype=np.int64).astype(np.uint64) | np.uint64(1)
    b = rng.randint(0, 2**63 - 1, size=num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def _py_shingle_set(text, n: int) -> list[str]:
    """Python twin of the JVM ``shingles`` expression (ASCII \\w/\\s like
    java.util.regex defaults). Used only for CANDIDATE generation — the
    emitted jaccard is always verified on the JVM shingle sets."""
    import re

    words = re.sub(r"[^\w\s]", "", str(text or "").lower(), flags=re.ASCII).split()
    if not words:
        return []
    if len(words) <= n:
        return [" ".join(words)]
    return list({" ".join(words[i : i + n]) for i in range(len(words) - n + 1)})


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
) -> DataFrame:
    """(id, minhash_sig array<long>[num_perm]) — sig[i] = min over word
    3-gram shingles of a_i·hash64(shingle) + b_i (mod 2^64).

    Tokenize → shingle → hash → permutation-min all happen in ONE
    Arrow-vectorized stage: shingle strings of a whole batch are hashed
    in one flat pd.util.hash_array call and the num_perm permutations
    are wraparound multiply-adds folded per document with
    np.minimum.reduceat. Two earlier JVM formulations were measured far
    slower at sf0.1: per-seed xxhash64(shingle, i) in a nested transform
    (~9 s — every string hashed num_perm times, interpreted), and even a
    single-pass transform/slice/array_join shingle expression (~5 s —
    higher-order functions evaluate interpreted, ~15 µs/shingle)."""
    a_params, b_params = _minhash_perm_params(num_perm, _MINHASH_SEED)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        sets = [_py_shingle_set(t, _SHINGLE_N) for t in texts]
        n = len(sets)
        lens = np.fromiter((len(x) for x in sets), dtype=np.int64, count=n)
        sig = np.empty((n, num_perm), dtype=np.uint64)
        nonempty = lens > 0
        if nonempty.any():
            flat_strs = np.array(
                [s for x in sets for s in x], dtype=object
            )
            flat = pd.util.hash_array(flat_strs).astype(np.uint64)
            seg = np.concatenate([[0], np.cumsum(lens[nonempty])[:-1]])
            for i in range(num_perm):
                vals = a_params[i] * flat + b_params[i]  # uint64 wraparound
                sig[nonempty, i] = np.minimum.reduceat(vals, seg)
        sig[~nonempty, :] = np.uint64(0xFFFFFFFFFFFFFFFF)
        return pd.Series(list(sig.view(np.int64)))

    return df.select(F.col(id_col), sig_udf(text_col).alias("minhash_sig"))


def minhash_lsh_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    jaccard_threshold: float | None = 0.7,
) -> DataFrame:
    """Candidate near-dup pairs from banded MinHash, verified with exact
    shingle Jaccard. Output: (id_a, id_b, jaccard).

    Candidate generation is ONE aggregation, not a self-join: group the
    exploded (band_idx, band_hash) rows per bucket, then emit each
    bucket's id-combinations with an in-row transform over the (tiny, by
    the LSH contract) sorted id array. The signature table is consumed
    exactly once, so it needs no persist, and only 16-byte band rows
    ever reach the shuffle. Buckets bigger than ``_MAX_BUCKET`` ids are
    dropped (a bucket of k ids emits k·(k-1)/2 pairs — an all-equal-hash
    pathology would go quadratic); dropped buckets mean MISSED
    candidates for documents whose only collision is in a mega bucket.
    Dropped buckets are logged as a warning, counted for free by an
    ``Observation`` riding the materializing action (no extra job —
    ADVICE r3).

    Returns the verified pairs persisted + materialized (they are tiny).
    CALLER CONTRACT: ``.unpersist()`` the returned DataFrame when done —
    a long-lived session invoking this repeatedly otherwise accumulates
    (small) cached blocks (ADVICE r3).
    """
    assert num_perm % bands == 0
    r = num_perm // bands
    sigs = minhash_signatures(df, id_col, text_col, num_perm)
    # Banding as a literal struct array: measured 600x faster than the
    # equivalent nested transform(sequence(...), slice(...)) formulation,
    # which falls off the codegen path entirely.
    band_arr = F.array(
        *[
            F.struct(
                F.lit(bidx).alias("band_idx"),
                F.hash(F.slice("minhash_sig", bidx * r + 1, r)).alias("band_hash"),
            )
            for bidx in range(bands)
        ]
    )
    banded = sigs.select(
        F.col(id_col),
        F.explode(band_arr).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")

    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    obs = Observation("minhash_bucket_cap")
    buckets = buckets.observe(
        obs,
        F.coalesce(
            F.sum((F.size("ids") > _MAX_BUCKET).cast("long")), F.lit(0)
        ).alias("dropped_buckets"),
    ).filter(F.size("ids") <= _MAX_BUCKET)
    # k ids -> k(k-1)/2 (id_a < id_b) pairs; interpreted HOF but over
    # arrays of a few elements each
    pair_arr = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact-Jaccard verify ONLY for the candidate pairs, in one Arrow
    # stage over the candidates' raw texts: shingle sets + set algebra in
    # numpy/python (the `_py_shingle_set` twin of the JVM expression —
    # asserted equal on shared pairs in tests/test_textops.py). The
    # previous JVM array_intersect/array_union form required the
    # interpreted (~15 µs/shingle) shingle HOF per candidate document,
    # which dominated wall time. AQE broadcasts the candidate side.
    cand = cand.persist()

    @F.pandas_udf(T.DoubleType())
    def _jac_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
        vals = np.empty(len(ta), dtype=np.float64)
        for i, (x, y) in enumerate(zip(ta, tb)):
            sa = set(_py_shingle_set(x, _SHINGLE_N))
            sb = set(_py_shingle_set(y, _SHINGLE_N))
            u = len(sa | sb)
            vals[i] = len(sa & sb) / u if u else float("nan")
        return pd.Series(vals)

    texts = df.select(F.col(id_col), F.col(text_col))
    pairs = (
        cand.join(
            texts.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_t_a")),
            "id_a",
        ).join(
            texts.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_t_b")),
            "id_b",
        )
    )
    out = pairs.select("id_a", "id_b", _jac_udf("_t_a", "_t_b").alias("jaccard"))
    if jaccard_threshold is not None:
        out = out.filter(F.col("jaccard") >= jaccard_threshold)
    # materialize the (small) verified result, then release the
    # candidate cache — repeated invocations in a long session must not
    # accumulate cached blocks (ADVICE r2). The returned cache is the
    # caller's to unpersist (see docstring).
    out = out.persist()
    out.count()
    cand.unpersist()
    dropped = int(obs.get.get("dropped_buckets") or 0)
    if dropped:
        logging.getLogger(__name__).warning(
            "minhash_lsh_dup_pairs: dropped %d buckets larger than %d ids "
            "(quadratic-bucket cap; candidates in them are missed)",
            dropped, _MAX_BUCKET,
        )
    return out


_SIMHASH_RET = T.LongType()


@F.pandas_udf(_SIMHASH_RET)
def _simhash_udf(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word unigrams, vectorized ACROSS the Arrow
    batch: all documents' unique words are hashed in one flat array and
    the per-document ±1 bit votes come from np.add.reduceat per bit
    plane — no per-document Python beyond the tokenize step."""
    n = len(texts)
    words_per_doc = [
        np.unique(np.array(str(t).lower().split(), dtype=object))
        if t
        else np.array([], dtype=object)
        for t in texts
    ]
    lens = np.fromiter((len(w) for w in words_per_doc), dtype=np.int64, count=n)
    out = np.zeros(n, dtype=np.int64)
    nonempty = lens > 0
    if nonempty.any():
        flat = np.concatenate([w for w in words_per_doc if len(w)])
        hashes = pd.util.hash_array(flat).astype(np.uint64)
        seg = np.concatenate([[0], np.cumsum(lens[nonempty])[:-1]])
        doc_lens = lens[nonempty]
        sims = np.zeros(len(seg), dtype=np.uint64)
        for b in range(64):  # one reduceat per bit plane bounds memory at O(total words)
            plane = ((hashes >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            votes = 2 * np.add.reduceat(plane, seg) - doc_lens
            sims |= (votes > 0).astype(np.uint64) << np.uint64(b)
        out[nonempty] = sims.view(np.int64)
    return pd.Series(out)


def simhash64(df: DataFrame, text_col: str = "text", out: str = "simhash") -> DataFrame:
    return df.withColumn(out, _simhash_udf(F.col(text_col)))


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hamming-near pairs via the pigeonhole block trick: split the 64-bit
    simhash into 4 chunks of 16 bits; any pair within ``_MAX_HAMMING``
    (< 4) bits must agree on >=1 chunk → equi-join per chunk, then exact
    popcount verify (bit_count is JVM-side)."""
    blocks = _SIMHASH_BLOCKS
    width = 64 // blocks
    sh = simhash64(df.select(id_col, text_col), text_col)
    chunks = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_idx", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= _MAX_HAMMING)
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact all-pairs ``_SHINGLE_N``-gram Jaccard, pairs at or above
    ``_JACCARD_THRESHOLD``, via an inverted-index join (each
    pair is generated once per shared shingle, then grouped) — the
    exact-but-quadratic-worst-case baseline the LSH variant approximates.
    Shuffle key = shingle, so common-shingle skew is the hazard:
    shingles shared by more than ``_MAX_DOC_FREQ`` documents are dropped
    (a shingle in k docs fans out k² pair rows). Dropping a shingle can
    only LOWER a pair's computed intersection, so this under-reports
    Jaccard for pairs whose overlap is dominated by ubiquitous
    shingles."""
    sh = df.select(F.col(id_col), shingles(text_col)).select(
        id_col, F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle")
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    rare = freq.filter(F.col("df_") <= _MAX_DOC_FREQ)
    sh = sh.join(F.broadcast(rare.select("shingle")), "shingle")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = (F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias("jaccard")
    return inter.select("id_a", "id_b", jac).filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
