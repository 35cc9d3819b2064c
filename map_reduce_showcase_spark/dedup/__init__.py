"""Document-level dedup operators.

The input contract, stated once: an operator that reads documents
reads a frame with a ``doc_id`` column and a ``text`` column (the
``documents`` table's shape), and reports documents by ``doc_id``.
"""

from .components import connected_components
from .exact import exact_dup_groups, exact_dup_stats
from .jaccard import jaccard_filter, ngram_jaccard_pairs, shingle_rows, shingle_sizes
from .minhash import (
    incremental_minhash_near_dup_pairs,
    lsh_candidate_pairs,
    minhash_near_dup_pairs,
    minhash_sketches,
)
from .simhash import simhash_docs, simhash_near_pairs

__all__ = [
    "exact_dup_groups",
    "exact_dup_stats",
    "shingle_rows",
    "shingle_sizes",
    "jaccard_filter",
    "ngram_jaccard_pairs",
    "minhash_sketches",
    "lsh_candidate_pairs",
    "minhash_near_dup_pairs",
    "incremental_minhash_near_dup_pairs",
    "simhash_docs",
    "simhash_near_pairs",
    "connected_components",
]
