"""User-facing operator API.

Parameterized, DataFrame-in/DataFrame-out operators — the library
surface a pipeline author uses directly (the ``queries/`` registry
wraps these with fixed parameters for the correctness gate).
"""

from .dedup import (
    exact_dedup,
    jaccard_pairs,
    pair_intersections,
    prefix_filter_candidates,
    minhash_lsh_dedup,
    shingle,
    simhash_fingerprints,
    simhash_pairs,
    simhash_pairs_banded,
)
from .similarity import (
    cosine_pairs,
    cosine_pairs_lsh,
    cosine_topk,
    lsh_buckets,
    lsh_table_buckets,
)
from .ivf import ivf_search
from .graph import bfs_hops, connected_components, label_propagation, triangle_counts
from .skew import salted_join
from .textops import quality_scores, token_stats

__all__ = [
    "exact_dedup",
    "shingle",
    "jaccard_pairs",
    "pair_intersections",
    "prefix_filter_candidates",
    "minhash_lsh_dedup",
    "simhash_fingerprints",
    "simhash_pairs",
    "simhash_pairs_banded",
    "cosine_topk",
    "cosine_pairs",
    "cosine_pairs_lsh",
    "ivf_search",
    "lsh_table_buckets",
    "lsh_buckets",
    "salted_join",
    "connected_components",
    "triangle_counts",
    "label_propagation",
    "bfs_hops",
    "token_stats",
    "quality_scores",
]
