from .quality import (
    token_count,
    quality_scores,
    langid_heuristic,
    fingerprint,
)
from .dedup import (
    minhash_signatures,
    minhash_lsh_dup_pairs,
    simhash64,
    simhash_dup_pairs,
    ngram_jaccard_pairs,
)
from .similarity import (
    cosine_topk_bruteforce,
    embedding_near_dup_pairs,
    ivf_topk,
    ivf_train,
)

__all__ = [
    "token_count",
    "quality_scores",
    "langid_heuristic",
    "fingerprint",
    "minhash_signatures",
    "minhash_lsh_dup_pairs",
    "simhash64",
    "simhash_dup_pairs",
    "ngram_jaccard_pairs",
    "cosine_topk_bruteforce",
    "embedding_near_dup_pairs",
    "ivf_topk",
    "ivf_train",
]
