"""Incremental append + RepDB query/assign (reference --append semantics,
src/mst_state.h:13-30)."""

import pytest

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.operators.dedup import minhash_dedup
from rabbittclust_spark.streaming.incremental import (
    append_batch,
    assign_or_novel,
    query_topk,
)

CFG = PipelineConfig(min_len=10, exact_prededup=False)


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def base_state(spark):
    a = "alpha bravo charlie delta echo foxtrot golf hotel " * 30
    b = "india juliet kilo lima mike november oscar papa " * 30
    docs = _mk_docs(spark, [(1, a), (2, a + "xray "), (3, b), (4, b + "zulu ")])
    out = minhash_dedup(docs, CFG)
    return {"sketches": out["sketches"],
            "assignments": out["assignments"].select("doc_id", "cluster_id"),
            "a": a, "b": b}


def test_append_assign_to_existing(spark, base_state):
    # new doc near cluster A -> joins it; unrelated -> new singleton cluster
    new = _mk_docs(spark, [(10, base_state["a"] + "yankee "),
                           (11, "quebec romeo sierra tango uniform victor " * 40)])
    out = append_batch(base_state["sketches"], base_state["assignments"],
                       new, CFG)
    got = {r.doc_id: r.cluster_id for r in out["assignments"].collect()}
    assert got[10] == got[1] == got[2] == 1
    assert got[11] == 11
    assert got[3] == got[4] == 3  # untouched cluster keeps its id


def test_append_merges_bridged_clusters(spark, base_state):
    # a doc similar to BOTH clusters merges them (multi-match -> merge,
    # src/mst_state.h:20-30)
    half = (base_state["a"].split() + base_state["b"].split())
    bridge = " ".join(half)
    new = _mk_docs(spark, [(20, bridge)])
    cfg = PipelineConfig(min_len=10, exact_prededup=False, threshold=0.2,
                         mash_k=21)
    out = append_batch(base_state["sketches"], base_state["assignments"],
                       new, cfg)
    got = {r.doc_id: r.cluster_id for r in out["assignments"].collect()}
    assert got[1] == got[3] == got[20] == 1  # merged into min id


def test_query_topk_and_assign(spark, base_state):
    reps = base_state["sketches"]
    queries = _mk_docs(spark, [(100, base_state["a"] + "whiskey "),
                               (101, "unrelated content entirely different " * 40)])
    top = query_topk(reps, queries, CFG, k=2)
    rows = {(r.query_id, r.rank): (r.rep_id, r.dist) for r in top.collect()}
    assert rows[(100, 1)][0] in (1, 2)
    assert rows[(100, 1)][1] <= CFG.threshold

    assigned = {r.query_id: (r.rep_id, r.is_novel)
                for r in assign_or_novel(reps, queries, CFG).collect()}
    assert assigned[100][1] is False and assigned[100][0] in (1, 2)
    assert assigned[101] == (None, True)


def test_query_topk_plan_is_candidate_join(spark, base_state):
    """The RepDB probe must be an equi-join on posting keys — never a
    broadcast nested-loop over queries x reps (scale-killer)."""
    import contextlib
    import io

    queries = _mk_docs(spark, [(100, base_state["a"] + "whiskey ")])
    top = query_topk(base_state["sketches"], queries, CFG, k=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        top.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_append_candidates_match_batch_probe_gate(spark):
    """With min_probe_common=2 the append must gate candidates exactly like
    the batch probe build: docs 1 and 2 (both new) share one of their two
    probes and 90 other sketch values, so neither path may verify them,
    while doc 1 x old doc 3 (both probes shared) passes in both."""
    from rabbittclust_spark.operators.pairs import pair_counts_probe
    from rabbittclust_spark.streaming.incremental import _pair_counts_vs

    cfg = PipelineConfig(min_len=10, probe_hashes=2, min_probe_common=2)
    body = list(range(1000, 1090))

    def row(doc_id, probes, tail):
        sig = sorted(probes + body + list(range(tail, tail + 8)))
        return (doc_id, 1000, len(sig), sig)

    schema = "doc_id long, len long, n int, sig array<long>"
    new = spark.createDataFrame([row(1, [1, 2], 5000), row(2, [1, 3], 6000)],
                                schema)
    old = spark.createDataFrame([row(3, [1, 2], 7000)], schema)

    def pairs(df):
        return sorted(tuple(r) for r in
                      df.select("src", "dst", "n1", "n2", "common").collect())

    batch = pairs(pair_counts_probe(old.unionByName(new), cfg))
    assert [p[:2] for p in batch] == [(1, 3)]
    assert pairs(_pair_counts_vs(new, old, cfg)) == batch
