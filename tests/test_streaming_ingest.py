"""Structured Streaming ingest: foreachBatch(append_batch) ==
full-batch clustering, and checkpoint resume processes only new files."""

import os

import pytest

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.fixtures.webtext import WebtextParams, generate_pandas
from rabbittclust_spark.operators.dedup import minhash_dedup
from rabbittclust_spark.streaming import ingest
from rabbittclust_spark.streaming.ingest import StreamingDedup, stream_ingest

CFG = PipelineConfig(min_len=100, exact_prededup=False)
P = WebtextParams(num_clusters=5, members_per_cluster=4, num_singletons=8,
                  num_short=2, hot_cluster_size=4)


@pytest.fixture(scope="module")
def corpus():
    return generate_pandas(P)


def _assign_map(df):
    return {r.doc_id: r.cluster_id for r in df.collect()}


def test_stream_equals_batch(spark, corpus, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    in_dir, state, ckpt = (str(root / d) for d in ("in", "state", "ckpt"))
    os.makedirs(in_dir)

    docs_pd = corpus[["doc_id", "text"]].sort_values("doc_id").reset_index(drop=True)
    thirds = [docs_pd.iloc[i::3] for i in range(3)]
    # first two batches arrive
    for i, part in enumerate(thirds[:2]):
        spark.createDataFrame(part).coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(in_dir, f"batch{i}"))
    sink = stream_ingest(spark, CFG, in_dir + "/*", state, ckpt)
    v_after_two = sink._current_version()
    assert v_after_two >= 0

    # third batch arrives later; checkpoint resume processes ONLY it
    spark.createDataFrame(thirds[2]).coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(in_dir, "batch2"))
    sink = stream_ingest(spark, CFG, in_dir + "/*", state, ckpt)
    assert sink._current_version() == v_after_two + 1

    got = _assign_map(sink.assignments())
    batch = _assign_map(
        minhash_dedup(spark.createDataFrame(docs_pd), CFG)["assignments"]
        .select("doc_id", "cluster_id"))
    assert got == batch


def test_stream_rerun_without_new_data_is_noop(spark, corpus, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream2")
    in_dir, state, ckpt = (str(root / d) for d in ("in", "state", "ckpt"))
    os.makedirs(in_dir)
    docs_pd = corpus[["doc_id", "text"]]
    spark.createDataFrame(docs_pd).coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(in_dir, "b0"))
    sink = stream_ingest(spark, CFG, in_dir + "/*", state, ckpt)
    v1 = sink._current_version()
    sink = stream_ingest(spark, CFG, in_dir + "/*", state, ckpt)
    assert sink._current_version() == v1  # no new files -> no new state version


def test_replayed_batch_is_idempotent(spark, corpus, tmp_path_factory):
    """foreachBatch replay after a crash between the state-pointer flip and
    the stream-checkpoint commit must NOT duplicate state."""
    root = tmp_path_factory.mktemp("stream3")
    sink = StreamingDedup(spark, CFG, str(root / "state"))
    batch = spark.createDataFrame(corpus[["doc_id", "text"]])
    sink.process_batch(batch, batch_id=0)
    v1 = sink._current_version()
    n1 = sink.load_state()[0].count()
    sink.process_batch(batch, batch_id=0)  # replay of the SAME batch
    assert sink._current_version() == v1   # no new state version
    assert sink.load_state()[0].count() == n1  # no duplicated sketches
    sink.process_batch(batch.where("doc_id < 0"), batch_id=1)  # next batch ok
    assert sink._current_version() == v1 + 1


# ------------------------------------------------ per-batch sketch parts


def _docs(corpus):
    return corpus[["doc_id", "text"]].sort_values("doc_id").reset_index(drop=True)


@pytest.fixture(scope="module")
def batch_answer(spark, corpus):
    return _assign_map(minhash_dedup(spark.createDataFrame(_docs(corpus)), CFG)
                       ["assignments"].select("doc_id", "cluster_id"))


def _append_all(spark, sink, corpus, stop, start=0, n=4):
    """Append batches start..stop-1 of the corpus split n ways."""
    for i in range(start, stop):
        sink.process_batch(spark.createDataFrame(_docs(corpus).iloc[i::n]), i)


def _layout(root):
    return {d: sorted(os.listdir(os.path.join(root, d)))
            for d in sorted(os.listdir(root)) if d.startswith("v")}


def test_appends_equal_batch_across_crash_and_replay(
        spark, corpus, batch_answer, tmp_path, monkeypatch):
    """N appends equal one batch run, with a crash after batch 2's part is
    written but before the pointer flips; the replay rewrites the unlisted
    part instead of adding to it."""
    sink = StreamingDedup(spark, CFG, str(tmp_path / "state"))
    _append_all(spark, sink, corpus, 2)
    write = StreamingDedup._write

    def crash(self, df, rel):
        if rel.endswith("assignments"):
            raise RuntimeError("crash before the pointer flip")
        return write(self, df, rel)

    monkeypatch.setattr(StreamingDedup, "_write", crash)
    with pytest.raises(RuntimeError):
        _append_all(spark, sink, corpus, 4, start=2)
    monkeypatch.undo()
    assert sink._current_version() == 1
    assert os.path.isdir(tmp_path / "state" / "v2" / "sketches")
    assert sink._pointer()["sketch_parts"] == ["v0/sketches", "v1/sketches"]

    _append_all(spark, sink, corpus, 4, start=2)  # the stream's replay
    assert sink._pointer()["sketch_parts"] == [
        f"v{v}/sketches" for v in range(4)]
    sk, _ = sink.load_state()
    assert sk.count() == sk.select("doc_id").distinct().count() \
        == len(batch_answer)
    assert _assign_map(sink.assignments()) == batch_answer


def test_prune_deletes_only_dead_parts(spark, corpus, tmp_path):
    root = str(tmp_path / "state")
    sink = StreamingDedup(spark, CFG, root)
    _append_all(spark, sink, corpus, 4)
    # older versions keep only their live sketch part; the current and the
    # previous version stay whole
    assert _layout(root) == {"v0": ["sketches"], "v1": ["sketches"],
                             "v2": ["assignments", "sketches"],
                             "v3": ["assignments", "sketches"]}


def test_compaction_bound_is_two_parts_per_core(spark):
    assert ingest._compaction_bound(spark) == \
        2 * spark.sparkContext.defaultParallelism
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        assert ingest._compaction_bound(spark) == 3
    finally:
        spark.conf.set(key, old)


def test_compaction_writes_one_part(spark, corpus, batch_answer, tmp_path,
                                    monkeypatch):
    monkeypatch.setattr(ingest, "_compaction_bound", lambda spark: 2)
    root = str(tmp_path / "state")
    sink = StreamingDedup(spark, CFG, root)
    parts, layouts = [], []
    for i in range(4):
        _append_all(spark, sink, corpus, i + 1, start=i)
        parts.append(sink._pointer()["sketch_parts"])
        layouts.append(_layout(root))
    assert parts == [["v0/sketches"], ["v0/sketches", "v1/sketches"],
                     ["v2/sketches"], ["v2/sketches", "v3/sketches"]]
    # the compacting batch keeps the previous pointer's parts; the next
    # batch drops them
    assert layouts[2] == {"v0": ["sketches"],
                          "v1": ["assignments", "sketches"],
                          "v2": ["assignments", "sketches"]}
    assert layouts[3] == {"v2": ["assignments", "sketches"],
                          "v3": ["assignments", "sketches"]}
    assert sink.load_state()[0].count() == len(batch_answer)
    assert _assign_map(sink.assignments()) == batch_answer


def test_legacy_pointer_loads(spark, corpus, batch_answer, tmp_path):
    """A pointer written before sketch parts existed names one full
    ``v<v>/sketches``; appends onto it carry that part forward."""
    import json

    sink = StreamingDedup(spark, CFG, str(tmp_path / "state"))
    docs = _docs(corpus)
    sink.process_batch(spark.createDataFrame(docs.iloc[0::2]), 0)
    with open(sink._pointer_path(), "w") as f:
        json.dump({"version": 0, "batch_id": 0}, f)
    assert sink.load_state()[0].count() == \
        spark.read.parquet(str(tmp_path / "state" / "v0" / "sketches")).count()
    sink.process_batch(spark.createDataFrame(docs.iloc[1::2]), 1)
    assert sink._pointer()["sketch_parts"] == ["v0/sketches", "v1/sketches"]
    assert _assign_map(sink.assignments()) == batch_answer


def test_empty_state_plans_no_rdd_scan(spark, tmp_path):
    """An empty state loads as JVM relations: no pickled-row RDD whose scan
    would start Python workers."""
    sink = StreamingDedup(spark, CFG, str(tmp_path / "state"))
    for df in sink.load_state():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, plan
        assert df.count() == 0


def _du(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def test_state_bytes_per_append_scale_with_the_batch(spark, tmp_path):
    """The same batch appended onto a base state and onto one ~3x larger
    writes the same sketch part; only the assignments grow with the base."""
    docs = _docs(generate_pandas(WebtextParams(
        num_clusters=12, members_per_cluster=4, num_singletons=24,
        num_short=0, hot_cluster_size=0)))
    batch, rest = docs.iloc[-8:], docs.iloc[:-8]
    sizes = {}
    for name, base in (("small", rest.iloc[: len(rest) // 3]), ("large", rest)):
        root = str(tmp_path / name)
        sink = StreamingDedup(spark, CFG, root)
        sink.process_batch(spark.createDataFrame(base), 0)
        sink.process_batch(spark.createDataFrame(batch), 1)
        v1 = os.path.join(root, "v1")
        sizes[name] = (len(base), _du(os.path.join(root, "v0")), _du(v1),
                       _du(os.path.join(v1, "sketches")))
    print("state bytes (base docs, base version, appended version, its "
          "sketch part):", sizes)
    (n_s, base_s, v_s, part_s), (n_l, base_l, v_l, part_l) = \
        sizes["small"], sizes["large"]
    assert n_l >= 3 * n_s and base_l > 2 * base_s
    assert abs(part_l - part_s) <= 0.05 * part_s
    # the appended version grows by the assignments only: far less than the
    # base state does
    assert v_l - v_s < 0.25 * (base_l - base_s)
