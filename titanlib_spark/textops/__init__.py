"""Large-scale training-data operations: dedup, similarity, text stats,
multimodal plumbing.

These extend the QC-check architecture (titanlib_spark.operators) with the
operators a 100 TB training-data pipeline needs. Most hot paths are
JVM-side column expressions (higher-order array functions over hashes);
Python appears only in Arrow-batched pandas UDFs where per-row compute
beats the interpreted JVM twin: the one MinHash kernel
(dedup.minhash_udf, one md5 per gram plus numpy permutation math),
embedding math and media decode.
"""

from titanlib_spark.textops.dedup import (
    exact_dedup,
    minhash_signatures,
    minhash_lsh_candidates,
    minhash_lsh_dedup,
    simhash,
    simhash_table,
    ngram_jaccard_pairs,
    token_window_hashes,
    winnowed_fingerprints,
    duplicate_passage_pairs,
)
from titanlib_spark.textops.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_assign,
    ivf_probe_cells,
    ivf_topk,
    kmeans_core,
    lsh_bucketed_topk,
    lsh_candidate_pairs,
    train_ivf_centroids,
)
from titanlib_spark.textops.stats import (
    token_count,
    bpe_ish_token_count,
    fingerprint,
    quality_score,
)

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "minhash_lsh_dedup",
    "simhash",
    "simhash_table",
    "ngram_jaccard_pairs",
    "token_window_hashes",
    "winnowed_fingerprints",
    "duplicate_passage_pairs",
    "cosine_topk",
    "ivf_assign",
    "ivf_probe_cells",
    "ivf_topk",
    "kmeans_core",
    "train_ivf_centroids",
    "embedding_near_dup_pairs",
    "lsh_bucketed_topk",
    "lsh_candidate_pairs",
    "token_count",
    "bpe_ish_token_count",
    "fingerprint",
    "quality_score",
]
