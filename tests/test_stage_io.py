"""Stage IO without bookkeeping jobs: every read-back of the engine's own
output passes the schema it was written with (no schema-inference job), and
stage lineage comes from the written files' parquet footers (no re-scan).
The facts recorded this way equal the ones Spark computes by reading."""

import atexit
import dataclasses
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.fixtures.webtext import WebtextParams, generate_pandas
from rabbittclust_spark.plans.pipeline import (
    _MANIFEST,
    DedupPipeline,
    input_fingerprint,
)
from rabbittclust_spark.sources import tables
from rabbittclust_spark.streaming.ingest import (
    _ASSIGN_SCHEMA,
    _SKETCH_SCHEMA,
    StreamingDedup,
)

P = WebtextParams(num_clusters=4, members_per_cluster=4, num_singletons=6,
                  num_short=2, hot_cluster_size=4)
CFG = PipelineConfig(min_len=100, dedup_dist=0.02, reps_per_cluster=2,
                     community_resolution=1.0)


@pytest.fixture(scope="module")
def corpus():
    return generate_pandas(P)


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` submits."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus: drain it before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_materialize_registers_cleanup_once(spark, monkeypatch):
    calls = []
    monkeypatch.setattr(atexit, "register", calls.append)
    df = spark.range(10)
    for _ in range(2):
        with tables.materialize_scope():
            tables.materialize(df, "scoped").count()
    assert calls == []  # registered once, at import


def test_materialize_submits_only_the_write(spark, tmp_path):
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    write_only = _jobs(spark, lambda: df.write.parquet(str(tmp_path / "w")))
    with tables.materialize_scope():
        assert _jobs(spark, lambda: tables.materialize(df)) == write_only


@pytest.mark.parametrize("ddl,rows", [
    ("a long not null, b string", [(1, "x")]),
    ("a array<long>, m map<string,int>, s struct<x:int,y:array<string>>",
     [([1, 2], {"k": 1}, (3, ["u"]))]),
    ("a long, b double", []),
])
def test_materialize_schema_equals_inferred(spark, ddl, rows):
    df = spark.createDataFrame(rows, ddl)
    with tables.materialize_scope():
        back = tables.materialize(df)
        written = os.path.join(tables._MATERIALIZE_DIRS[-1], "data")
        assert back.schema == spark.read.parquet(written).schema
        assert sorted(back.collect()) == sorted(df.collect())


def test_stream_state_load_submits_no_job(spark, corpus, tmp_path):
    sink = StreamingDedup(spark, CFG, str(tmp_path / "state"))
    sink.process_batch(spark.createDataFrame(corpus[["doc_id", "text"]]), 0)
    assert _jobs(spark, sink.load_state) == 0

    # the state as written has exactly the schemas it is loaded with
    base = os.path.join(str(tmp_path / "state"), f"v{sink._current_version()}")
    for name, ddl in (("sketches", _SKETCH_SCHEMA),
                      ("assignments", _ASSIGN_SCHEMA)):
        written = spark.read.parquet(os.path.join(base, name)).schema
        assert written == spark.createDataFrame([], ddl).schema


@pytest.fixture(scope="module")
def pipeline_run(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pipe"))
    docs = spark.createDataFrame(corpus[["doc_id", "html"]])
    out = DedupPipeline(spark, CFG, root).run(docs, html_col="html")
    return root, docs, out


def test_pipeline_facts(spark, pipeline_run):
    root, _, out = pipeline_run
    assert {"extracted", "sketches", "edges", "assignments", "dedup_groups",
            "reps", "communities"} <= set(out)
    for stage, df in out.items():
        path = os.path.join(root, stage)
        m = json.load(open(os.path.join(path, _MANIFEST)))
        inferred = spark.read.parquet(path)
        assert m["rows"] == inferred.count(), stage
        per_part: dict[int, int] = {}
        for r in (inferred.groupBy(F.input_file_name().alias("f"))
                  .count().collect()):
            pid = int(os.path.basename(r.f).split("-")[1])
            per_part[pid] = per_part.get(pid, 0) + r["count"]
        assert m["partition_rows"] == sorted(map(list, per_part.items())), stage
        assert m["partitions"] == len(per_part)
        assert df.schema == inferred.schema, stage


def test_resume_submits_only_fingerprint_jobs(spark, pipeline_run):
    root, docs, out = pipeline_run
    resumed = {}
    n = _jobs(spark, lambda: resumed.update(
        DedupPipeline(spark, CFG, root).run(docs, html_col="html")))
    assert n == _jobs(spark, lambda: input_fingerprint(docs, "doc_id", "html"))
    assert {s: df.schema for s, df in resumed.items()} == \
        {s: df.schema for s, df in out.items()}


def test_manifest_without_schema_recomputes_once(spark, corpus, tmp_path):
    root = str(tmp_path / "pipe")
    cfg = dataclasses.replace(CFG, dedup_dist=None, reps_per_cluster=1,
                              community_resolution=None)
    docs = spark.createDataFrame(corpus[["doc_id", "text"]])
    DedupPipeline(spark, cfg, root).run(docs)
    mpath = os.path.join(root, "sketches", _MANIFEST)
    m = json.load(open(mpath))
    del m["schema"]
    json.dump(m, open(mpath, "w"))

    def manifest_id(stage):
        return json.load(open(os.path.join(root, stage, _MANIFEST)))["manifest_id"]

    exact = manifest_id("exact_groups")
    DedupPipeline(spark, cfg, root).run(docs)
    recomputed = manifest_id("sketches")
    assert recomputed != m["manifest_id"]
    assert manifest_id("exact_groups") == exact  # untouched stages reused
    DedupPipeline(spark, cfg, root).run(docs)
    assert manifest_id("sketches") == recomputed  # once
