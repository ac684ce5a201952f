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


_SK_SCHEMA = "doc_id long, len long, n int, sig array<long>"


def _sk_row(doc_id, probes, tail):
    """A sketch whose bottom values are ``probes``, then 90 values every
    test doc shares, then 8 of its own from ``tail``."""
    sig = sorted(probes + list(range(1000, 1090)) + list(range(tail, tail + 8)))
    return (doc_id, 1000, len(sig), sig)


@pytest.mark.parametrize("case", ["probe_gate", "star"])
def test_append_candidates_match_batch_probe_gate(spark, case):
    """The append must build exactly the batch probe build's pairs that
    touch a new doc.

    probe_gate: with min_probe_common=2, docs 1 and 2 (both new) share one
    of their two probes and 90 other sketch values, so neither path may
    verify them, while doc 1 x old doc 3 (both probes shared) passes in
    both.

    star: probe 1 is held by four docs, above max_posting=3, so the cap
    escalates it to anchor-star candidates in both paths.  Old docs 3 and 4
    share only that hot probe: the batch finds them through the star, and
    the append must not, because settled x settled pairs are known."""
    from rabbittclust_spark.operators.pairs import pair_counts_probe

    if case == "probe_gate":
        cfg = PipelineConfig(min_len=10, probe_hashes=2, min_probe_common=2)
        new = [_sk_row(1, [1, 2], 5000), _sk_row(2, [1, 3], 6000)]
        old = [_sk_row(3, [1, 2], 7000)]
    else:
        cfg = PipelineConfig(min_len=10, probe_hashes=2, max_posting=3)
        new = [_sk_row(1, [1, 11], 5000), _sk_row(2, [1, 12], 6000)]
        old = [_sk_row(3, [1, 13], 7000), _sk_row(4, [1, 14], 8000)]
    new = spark.createDataFrame(new, _SK_SCHEMA)
    old = spark.createDataFrame(old, _SK_SCHEMA)
    new_ids = {r.doc_id for r in new.collect()}

    def pairs(df):
        return sorted(tuple(r) for r in
                      df.select("src", "dst", "n1", "n2", "common").collect())

    batch = pairs(pair_counts_probe(old.unionByName(new), cfg))
    append = pairs(pair_counts_probe(new, cfg, settled=old))
    if case == "probe_gate":
        assert [p[:2] for p in batch] == [(1, 3)]
    else:
        assert (3, 4) in [p[:2] for p in batch]
    assert append == [p for p in batch if {p[0], p[1]} & new_ids]


def test_append_onto_banded_state(spark):
    """A banded build's sketches carry band_keys; appending onto them must
    read only the flat sketch columns and cluster like any other state."""
    from rabbittclust_spark.operators.sketch import sketch_minhash_bands

    a = "alpha bravo charlie delta echo foxtrot golf hotel " * 30
    b = "india juliet kilo lima mike november oscar papa " * 30
    cfg = PipelineConfig(min_len=10, exact_prededup=False)
    old_sk = sketch_minhash_bands(_mk_docs(spark, [(1, a), (3, b)]), cfg)
    assert "band_keys" in old_sk.columns
    old_assign = spark.createDataFrame([(1, 1), (3, 3)],
                                       "doc_id long, cluster_id long")
    out = append_batch(old_sk, old_assign,
                       _mk_docs(spark, [(10, a + "yankee ")]), cfg)
    got = {r.doc_id: r.cluster_id for r in out["assignments"].collect()}
    assert got == {1: 1, 3: 3, 10: 1}
    assert out["sketches"].columns == ["doc_id", "len", "n", "sig"]
