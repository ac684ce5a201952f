"""Physical-plan quality gates: pushdown/pruning reach the scan, sketch-array
joins stay shuffle-hash, and no hot path contains a cartesian or
nested-loop join."""

import contextlib
import io

import pytest

from pyspark.sql import functions as F

from rabbittclust_spark.config import PipelineConfig


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_scan_pruning_and_pushdown(spark, docs):
    """Projection pruning + filter pushdown must reach the parquet scan."""
    q = docs.where(F.length("text") >= 200).select("doc_id")
    plan = _plan(q)
    assert "ReadSchema" in plan
    # only the needed columns are read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "source" not in read_schema and "lang" not in read_schema
    assert "PushedFilters" in plan  # IsNotNull etc. pushed to parquet


def test_sketch_filter_before_udf(spark, docs):
    """The min-length filter must run under the scan, not after the UDF."""
    from rabbittclust_spark.operators.sketch import sketch_minhash

    sk = sketch_minhash(docs, PipelineConfig(min_len=20))
    plan = _plan(sk)
    # formatted explain prints top-down: MapInPandas consumes the Filter,
    # which consumes the scan — i.e. the filter runs BEFORE the UDF
    assert (plan.index("MapInPandas") < plan.index("Filter")
            < plan.index("Scan parquet"))
    assert "length" in plan


def test_flagship_probe_plan_no_cartesian(spark, docs):
    from rabbittclust_spark.operators.dedup import minhash_dedup

    out = minhash_dedup(docs.limit(200), PipelineConfig(min_len=20))
    plan = _plan(out["edges"])
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_verify_join_is_shuffle_hash(spark, docs):
    """The sketch-carrying verify join must be a shuffled hash join — never
    an SMJ (sorting ~8KB array rows) or a broadcast of the wide side.
    pair_counts_probe returns a post-barrier scan, so this asserts on the
    ACTUAL pairs.verify_join it materializes."""
    from rabbittclust_spark.config import PipelineConfig
    from rabbittclust_spark.operators.pairs import verify_join
    from rabbittclust_spark.operators.sketch import sketch_minhash
    from rabbittclust_spark.sources.tables import materialize

    cfg = PipelineConfig(min_len=20)
    sk = materialize(sketch_minhash(docs.limit(200), cfg), "plan_sk")
    cand = materialize(
        sk.select(F.col("doc_id").alias("src"))
        .join(sk.select(F.col("doc_id").alias("dst")),
              F.col("src") < F.col("dst")).limit(50), "plan_cand")
    plan = _plan(verify_join(cand, sk))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_sketch_input_spread_once(spark, docs, monkeypatch):
    """On a single-file scan the flagship's sketch stage shuffles its text
    input once: the sketch kernel's spread gate is the only repartition
    before the UDF, not a second one in front of the exact-group join."""
    import rabbittclust_spark.sources.tables as tables
    from rabbittclust_spark.operators.dedup import minhash_dedup

    real = tables.materialize
    seen = {}

    class _Stop(Exception):
        pass

    def capture(df, name="stage", wide=False):
        if name == "sketches":
            seen[name] = df
            raise _Stop
        return real(df, name, wide)

    monkeypatch.setattr(tables, "materialize", capture)
    with pytest.raises(_Stop):
        minhash_dedup(docs, PipelineConfig(min_len=20))
    plan = seen["sketches"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1, plan
