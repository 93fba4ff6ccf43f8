"""IVF ANN search: coarse quantization into cells + exact rerank.

The standard IVF shape (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011): a codebook partitions the
corpus into cells, each query probes its ``n_probe`` nearest cells,
and only the vectors assigned to those cells are reranked exactly by
:func:`~.similarity.cosine_topk`. The data-adaptive point on the
search-cost curve between brute force and hyperplane LSH.

Deterministic end to end, so it is hash-checkable against a SQL
oracle: the seed codebook is the vectors with id < ``n_cells``, every
distance is exact int64 over the quantized components, each Lloyd
step's centroids are re-quantized to rounded-integer component means
(<1e-6 precision lost per component, far below cosine resolution),
and ranking ties break by cell id.

Scale shape: the codebook is broadcast into every E-step, each E-step
is one map-side-combinable groupBy, and candidates are gathered only
from probed cells — never an all-pairs product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .similarity import cosine_topk, explode_quantized

__all__ = ["cell_distances", "ivf_search"]


def cell_distances(e: DataFrame, cent: DataFrame) -> DataFrame:
    """E-step: (vec_id, cid, dist) — exact squared distance from every
    quantized vector ``e`` (vec_id, i, xq; see :func:`explode_quantized`)
    to every centroid ``cent`` (cid, i, cq), broadcast codebook join
    plus one combinable groupBy."""
    diff = F.col("xq") - F.col("cq")
    return (
        e.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cid")
        .agg(F.sum(diff * diff).alias("dist"))
    )


def ivf_search(
    corpus: DataFrame,
    vec_col: str,
    query_filter: Column,
    *,
    n_cells: int,
    n_probe: int,
    k: int,
    lloyd_iters: int,
) -> DataFrame:
    """Top-``k`` cosine neighbors of the rows matching
    ``query_filter``, searched over the ``n_probe`` nearest of
    ``n_cells`` IVF cells. ``corpus`` is keyed by an integer ``vec_id``
    column, and ``query_filter`` may reference only that column: it is
    applied both to ``corpus`` and to the per-vector cell ranking.
    Returns (query_id, neighbor_id, rank, cosine) like
    :func:`cosine_topk`.

    ``lloyd_iters`` exact Lloyd steps train the seed codebook; 0
    searches with the seed codebook as is.

    The result's plan reads two persisted intermediates (the cell
    ranking, and the quantized explode when ``lloyd_iters > 0``);
    release them with ``spark.catalog.clearCache()`` once the result
    has been consumed."""
    e = explode_quantized(corpus, "vec_id", vec_col)
    if lloyd_iters > 0:
        # persist barrier: training feeds the quantized explode into
        # the seed codebook, every E-step and every M-step join;
        # without it CollapseProject re-inlines the round/cast HOF
        # into each consumer. Untrained, its two consumers (seed
        # codebook, one E-step) would only gain an InMemoryRelation.
        e = e.persist()
    cent = e.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), "i", F.col("xq").alias("cq")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    for _ in range(lloyd_iters):
        nearest = (
            cell_distances(e, cent)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid")
        )
        cent = (
            nearest.join(e, "vec_id")
            .groupBy("cid", "i")
            .agg(
                F.round(F.sum("xq").cast("double") / F.count(F.lit(1)), 0)
                .cast("bigint")
                .alias("cq")
            )
        )
    # persist barrier on the <= n_probe rows per vector: `assigned`
    # and `probes` both consume the final E-step's ranking, and
    # without it Catalyst re-derives every stage above it — explode,
    # each training step, the final E-step join + groupBy + window —
    # once per consumer. Ties break by cid, so the barrier cannot
    # change rows.
    ranked = (
        cell_distances(e, cent)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .persist()
    )
    assigned = ranked.filter(F.col("rn") == 1).select("vec_id", "cid")
    # the rn predicate repeats the ranking's own; dropping it would
    # change the recorded optimized plans (PLANS.json) for no gain
    probes = ranked.filter(query_filter & (F.col("rn") <= n_probe)).select(
        F.col("vec_id").alias("query_id"), "cid"
    )
    cand = (
        F.broadcast(probes)
        .join(assigned, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return cosine_topk(
        corpus, "vec_id", vec_col, query_filter, k=k, candidates=cand
    )
