"""pairs.posting_pairs — the one posting self-join — on hand fixtures.

Each case states the expected pair set directly: orientation, the
shared-cold-key count, the star flag on exactly the anchor pairs of a hot
key, drop mode, the settled (append) form, multi-key joins and the
size-ratio prune.
"""

import dataclasses
import itertools

from pyspark.sql import functions as F

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.functions.distances import size_ratio_pred
from rabbittclust_spark.operators.pairs import STAR_ANCHORS, posting_pairs

NO_CAP = PipelineConfig(max_posting=None)
CAP3 = dataclasses.replace(PipelineConfig(), max_posting=3,
                           hot_hash_mode="star")


def _postings(spark, rows, schema="doc_id long, h string"):
    return spark.createDataFrame(rows, schema)


def _collect(df):
    return {(r.src, r.dst): (r.common, r.star) for r in df.collect()}


def _anchors(spark, members):
    """The documented anchor rule: for each salt i < STAR_ANCHORS, the
    member minimizing xxhash64(doc_id, i)."""
    df = spark.createDataFrame([(m,) for m in members], "doc_id long")
    out = set()
    for i in range(STAR_ANCHORS):
        r = (df.select("doc_id", F.xxhash64("doc_id", F.lit(i)).alias("k"))
             .orderBy("k").first())
        out.add(r.doc_id)
    return out


def _size_ratio(cfg):
    return "n", lambda x, y: size_ratio_pred(x, y, cfg.max_size_ratio())


def _anchor_pairs(members, anchors):
    return {(min(m, a), max(m, a)) for a in anchors for m in members if m != a}


def test_common_counts_shared_keys_src_lt_dst(spark):
    p = _postings(spark, [(1, "a"), (1, "b"), (1, "c"),
                          (2, "b"), (2, "c"), (2, "d"),
                          (3, "c"), (3, "e"), (4, "f")])
    got = _collect(posting_pairs(p, "h", NO_CAP, "t"))
    assert got == {(1, 2): (2, False), (1, 3): (1, False),
                   (2, 3): (1, False)}


def test_star_marks_exactly_the_anchor_pairs(spark):
    hot = list(range(10, 16))                  # 6 docs > cap 3
    rows = [(d, "hot") for d in hot] + [(10, "x"), (11, "x"), (20, "x")]
    got = _collect(posting_pairs(_postings(spark, rows), "h", CAP3, "t"))
    star = _anchor_pairs(hot, _anchors(spark, hot))
    assert 0 < len(star) < len(hot) * (len(hot) - 1) // 2
    cold = {(10, 11), (10, 20), (11, 20)}
    assert set(got) == star | cold
    for pair, (common, is_star) in got.items():
        assert is_star == (pair in star)
        # common = shared COLD keys only: the hot key never counts
        assert common == (1 if pair in cold else 0)


def test_star_false_drops_hot_keys(spark):
    hot = list(range(10, 16))
    rows = [(d, "hot") for d in hot] + [(10, "x"), (11, "x")]
    got = _collect(posting_pairs(_postings(spark, rows), "h", CAP3, "t",
                                 star=False))
    assert got == {(10, 11): (1, False)}
    drop = dataclasses.replace(CAP3, hot_hash_mode="drop")
    assert _collect(posting_pairs(_postings(spark, rows), "h", drop,
                                  "t")) == got


def test_settled_excludes_settled_pairs(spark):
    settled = _postings(spark, [(5, "k"), (6, "k")])
    new = _postings(spark, [(1, "k"), (7, "k")])
    got = _collect(posting_pairs(new, "h", NO_CAP, "t", settled=settled))
    assert got == {(1, 5): (1, False), (1, 6): (1, False),
                   (1, 7): (1, False), (5, 7): (1, False),
                   (6, 7): (1, False)}


def test_settled_star_pairs_touch_a_new_doc(spark):
    old = list(range(20, 25))
    settled = _postings(spark, [(d, "hot") for d in old])
    new = _postings(spark, [(25, "hot"), (3, "hot")])
    got = _collect(posting_pairs(new, "h", CAP3, "t", settled=settled))
    members = old + [3, 25]
    want = {p for p in _anchor_pairs(members, _anchors(spark, members))
            if 3 in p or 25 in p}
    assert want and set(got) == want
    assert all(v == (0, True) for v in got.values())


def test_multi_key_join(spark):
    p = _postings(spark, [(1, 0, "a"), (1, 1, "b"),
                          (2, 0, "a"), (2, 1, "c"),
                          (3, 0, "b"), (3, 1, "b")],
                  "doc_id long, pos int, key string")
    got = _collect(posting_pairs(p, ["pos", "key"], NO_CAP, "t"))
    assert got == {(1, 2): (1, False), (1, 3): (1, False)}
    # a multi-key cap counts the (pos, key) group, not the key alone:
    # "b" has 3 postings but no (pos, "b") group exceeds a cap of 2
    cap2 = dataclasses.replace(CAP3, max_posting=2)
    assert _collect(posting_pairs(p, ["pos", "key"], cap2, "t",
                                  star=False)) == got


def test_prune_before_the_aggregate(spark):
    cfg = dataclasses.replace(NO_CAP, threshold=0.05)
    r = cfg.max_size_ratio()
    small, close, far = 10, 11, int(10 * r) + 10
    p = _postings(spark, [(1, "k", small), (2, "k", close), (3, "k", far),
                          (1, "j", small), (3, "j", far)],
                  "doc_id long, h string, n int")
    out = posting_pairs(p, "h", cfg, "t", prune=_size_ratio(cfg))
    rows = {(x.src, x.dst): (x.common, x.v1, x.v2) for x in out.collect()}
    assert rows == {(1, 2): (1, small, close)}
    # the size-ratio filter sits below the aggregate in the optimized plan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.index("Aggregate") < plan.index("least(n")


def test_settled_values_follow_orientation(spark):
    settled = _postings(spark, [(5, "k", 10)], "doc_id long, h string, n int")
    new = _postings(spark, [(1, "k", 12)], "doc_id long, h string, n int")
    out = posting_pairs(new, "h", NO_CAP, "t", prune=_size_ratio(NO_CAP),
                        settled=settled)
    assert [(r.src, r.dst, r.v1, r.v2) for r in out.collect()] == \
        [(1, 5, 12, 10)]


def test_star_pairs_carry_values(spark):
    """Each anchor carries its value, so star pairs return v1/v2 too; the
    prune applies to cold rows only."""
    hot = list(range(10, 16))
    rows = [(d, "hot", 10 * d) for d in hot] + [(10, "x", 100), (20, "x", 200)]
    out = posting_pairs(
        _postings(spark, rows, "doc_id long, h string, val long"), "h", CAP3,
        "t", prune=("val", lambda x, y: F.lit(False)))
    got = {(r.src, r.dst): (r.v1, r.v2, r.star) for r in out.collect()}
    assert set(got) == _anchor_pairs(hot, _anchors(spark, hot))
    assert all(v == (10 * s, 10 * d, True) for (s, d), v in got.items())


def test_candidate_select_is_one_distinct(spark):
    """Candidate callers select (src, dst): every pair appears once, also
    when a pair is both a cold pair and a star pair."""
    hot = list(range(10, 16))
    rows = [(d, "hot") for d in hot] + [
        (a, f"c{a}{b}") for a, b in itertools.combinations(hot, 2)] + [
        (b, f"c{a}{b}") for a, b in itertools.combinations(hot, 2)]
    cand = posting_pairs(_postings(spark, rows), "h", CAP3, "t") \
        .select("src", "dst")
    got = [(r.src, r.dst) for r in cand.collect()]
    assert len(got) == len(set(got)) == len(hot) * (len(hot) - 1) // 2


def test_hot_set_plans_no_rdd_scan(spark, tmp_path):
    """With the cap firing on parquet-backed postings, the broadcast hot-key
    set is a JVM local relation: no RDD scan that would run Python tasks."""
    hot = list(range(10, 16))
    rows = [(d, "hot") for d in hot] + [(10, "x"), (11, "x"), (20, "x")]
    path = str(tmp_path / "postings")
    _postings(spark, rows).write.parquet(path)
    postings = spark.read.schema("doc_id long, h string").parquet(path)
    out = posting_pairs(postings, "h", CAP3, "t")
    for plan in (out._jdf.queryExecution().optimizedPlan(),
                 out._jdf.queryExecution().executedPlan()):
        assert "RDD" not in plan.toString(), plan.toString()
    assert _collect(out) == _collect(
        posting_pairs(_postings(spark, rows), "h", CAP3, "t"))


def test_hot_null_key_never_pairs(spark):
    """A null key above the cap is counted as hot but pairs nothing, alone
    or next to a real hot key."""
    rows = [(d, "hot") for d in range(10, 16)] + [(10, "x"), (11, "x")]
    nulls = [(d, None) for d in range(30, 36)]

    def pairs(r):
        return _collect(posting_pairs(_postings(spark, r), "h", CAP3, "t"))

    assert pairs(rows + nulls) == pairs(rows)
    assert pairs(nulls) == {}
