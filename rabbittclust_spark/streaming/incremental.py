"""Incremental append + query over persisted dedup state.

Reference semantics being reproduced (src/mst_state.h:13-30):
  new doc vs existing clusters ->
    - within d of exactly one cluster: assign to it
    - within d of several clusters: MERGE them all (transitive bridging)
    - within d of none: new cluster
plus batch-internal edges (new docs can cluster with each other).

Spark form: compute sketches for the new batch; build the edges of every
pair touching a new doc — (new x settled) and (new x new) — with the batch
probe builder, ``pairs.pair_counts_probe(new, cfg, settled=old)``, so the
posting cap, star escalation, probe gate and exact verification are the
batch build's own; union with the existing assignment edges (doc -> cluster
representative, the persisted clustering as a graph); re-run connected
components.  Merge-on-multi-match falls out of CC transitivity — no special
casing (SURVEY.md §2.10).

Also provides the RepDB query surface (src/greedy.cpp:2536-2638 top-k;
src/sub_command.cpp:337-450 assign): top-k nearest representatives per query
document via a ranking window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.functions.distances import jaccard_expr, mash_distance_expr
from rabbittclust_spark.operators.components import connected_components
from rabbittclust_spark.operators.pairs import (
    edges_from_pair_counts,
    pair_counts_probe,
)
from rabbittclust_spark.operators.sketch import sketch_minhash


def append_batch(old_sketches: DataFrame, old_assignments: DataFrame,
                 new_docs: DataFrame, cfg: PipelineConfig,
                 id_col: str = "doc_id", text_col: str = "text"
                 ) -> dict[str, DataFrame]:
    """Returns {"sketches": updated, "assignments": merged, "edges": new}.

    New-doc pairs come from the batch probe builder with the persisted
    sketches as its settled side (``pair_counts_probe(new, cfg,
    settled=old)``), so the append uses the probe candidate gate whatever
    ``pair_mode`` built the state; verification is exact either way.  Only
    the flat (doc_id, len, n, sig) columns of the state are read, so a
    banded state's ``band_keys`` are ignored.

    Cluster ids remain the component-min doc id, so re-clustering is stable:
    untouched clusters keep their ids (their min member is unchanged).
    """
    new_sk = sketch_minhash(new_docs, cfg, id_col=id_col, text_col=text_col)
    from rabbittclust_spark.sources.tables import materialize
    new_sk = materialize(new_sk, "append_sketches")
    old_sk = old_sketches.select("doc_id", "len", "n", "sig")
    all_sk = old_sk.unionByName(new_sk)
    new_edges = edges_from_pair_counts(
        pair_counts_probe(new_sk, cfg, settled=old_sk), cfg)
    assignments = merge_increment(old_assignments, new_edges, all_sk)
    return {"sketches": all_sk, "assignments": assignments, "edges": new_edges}


def merge_increment(old_assignments: DataFrame, new_edges: DataFrame,
                    all_docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Sketch-agnostic incremental merge (src/mst_state.h:13-30 semantics):
    persisted assignments become doc->cluster edges, new edges are unioned,
    and connected components re-run.  Assign-to-one / merge-on-multi-match /
    create-new all fall out of CC transitivity; cluster ids stay the
    component-min doc id, so the result is IDENTICAL to a full batch re-run
    over the union of old and new edges (oracle-checked in the driver's
    ``incremental_append`` query).  Returns (doc_id, cluster_id, is_rep)
    for every doc in ``all_docs``."""
    from rabbittclust_spark.operators.postprocess import assignments_from_components

    old_as_edges = old_assignments.select(
        F.col("doc_id").alias("src"), F.col("cluster_id").alias("dst"),
        F.lit(0.0).alias("dist"))
    membership = connected_components(new_edges.unionByName(old_as_edges))
    return assignments_from_components(
        all_docs.select(F.col(id_col).cast("long").alias("doc_id")), membership)


def query_topk_postings(rep_postings: DataFrame, query_postings: DataFrame,
                        distance_k: int, k: int = 5,
                        key_cols: tuple[str, ...] = ("key",),
                        round_dp: int | None = 6) -> DataFrame:
    """RepDB --query over an inverted index of posting rows
    (src/greedy.cpp:2536-2638: the reference probes the rep-only index, so
    cost is O(shared-key candidates), never queries x reps).

    ``rep_postings`` / ``query_postings``: (doc_id, *key_cols) DISTINCT
    posting rows.  Candidates = (query, rep) pairs sharing >= 1 key; the
    equi-join's group count IS the exact intersection.  Distance = Mash over
    the posting-set Jaccard; top-k per query by (dist asc, rep_id asc), with
    dist rounded to ``round_dp`` BEFORE ranking so ties break identically
    across engines.  Reps sharing no key with a query are not returned —
    reference semantics (an index probe cannot see them).

    Returns (query_id, rep_id, common, n1, n2, dist, rank).
    """
    q = query_postings.select(F.col("doc_id").cast("long").alias("query_id"),
                              *[F.col(c) for c in key_cols])
    r = rep_postings.select(F.col("doc_id").cast("long").alias("rep_id"),
                            *[F.col(c) for c in key_cols])
    n_q = q.groupBy("query_id").agg(F.count("*").alias("n1"))
    n_r = r.groupBy("rep_id").agg(F.count("*").alias("n2"))
    pairs = (
        q.join(r, list(key_cols))
        .where(F.col("query_id") != F.col("rep_id"))
        .groupBy("query_id", "rep_id").agg(F.count("*").alias("common"))
        .join(n_q, "query_id").join(n_r, "rep_id")
    )
    j = jaccard_expr(F.col("common"), F.col("n1"), F.col("n2"))
    dist = mash_distance_expr(j, distance_k)
    if round_dp is not None:
        dist = F.round(dist, round_dp)
    scored = pairs.select("query_id", "rep_id", "common", "n1", "n2",
                          dist.alias("dist"))
    if k == 1:
        # argmin via min_by: partial-aggregable, so a query matching millions
        # of reps is combiner work, not a single-partition window sort; the
        # ordering struct includes rep_id, so it is tie-free/deterministic
        # and identical to the window's (dist asc, rep_id asc) rank-1 row
        val = F.struct("rep_id", "common", "n1", "n2", "dist")
        ord_ = F.struct(F.col("dist").alias("d"), F.col("rep_id").alias("r"))
        best = scored.groupBy("query_id").agg(F.min_by(val, ord_).alias("b"))
        return best.select("query_id", "b.rep_id", "b.common", "b.n1",
                           "b.n2", "b.dist", F.lit(1).alias("rank"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(),
                                               F.col("rep_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def query_topk(rep_sketches: DataFrame, query_docs: DataFrame,
               cfg: PipelineConfig, k: int = 5, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """RepDB --query: top-k nearest representatives per query document
    (src/greedy.cpp:2536-2638).  Returns (query_id, rep_id, dist, rank).

    Exactly like the reference, the query probes the rep-only INVERTED INDEX:
    candidates are reps sharing >= 1 sketch hash, the posting equi-join's
    group count is the exact intersection (sketch hashes are distinct per
    doc), and reps sharing no hash are unreachable (common=0 => dist=1 in the
    reference too).  Cost is O(shared-hash candidates) — never queries x reps
    (the previous broadcast nested-loop form was a scale-killer at 10^8
    reps).  ``cfg.max_posting`` caps hot rep postings like --max-posting
    (src/dbscan.cpp:95-220)."""
    from rabbittclust_spark.operators.pairs import _apply_posting_cap

    q_sk = sketch_minhash(query_docs, cfg, id_col=id_col, text_col=text_col)
    q_post = q_sk.select("doc_id", F.explode("sig").alias("key"))
    r_post = rep_sketches.select("doc_id", F.explode("sig").alias("key"))
    # count-aggregation path: hot rep postings drop WITH logged accounting
    # (allow_star=False — star candidates carry no counts), like index mode
    r_post, _ = _apply_posting_cap(r_post, "key", cfg, "repdb",
                                   allow_star=False)
    out = query_topk_postings(r_post, q_post, cfg.distance_k, k=k,
                              key_cols=("key",))
    return out.select("query_id", "rep_id", "dist", "rank")


def assign_or_novel(rep_sketches: DataFrame, query_docs: DataFrame,
                    cfg: PipelineConfig, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """RepDB --assign: best rep within threshold else 'novel'
    (src/sub_command.cpp:337-450).  Returns (query_id, rep_id nullable,
    dist nullable, is_novel)."""
    top1 = query_topk(rep_sketches, query_docs, cfg, k=1,
                      id_col=id_col, text_col=text_col)
    q = query_docs.select(F.col(id_col).cast("long").alias("query_id"))
    hit = top1.where(F.col("dist") <= cfg.threshold) \
        .select("query_id", "rep_id", "dist")
    return (q.join(hit, "query_id", "left")
            .withColumn("is_novel", F.col("rep_id").isNull()))
