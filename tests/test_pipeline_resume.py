"""DedupPipeline: stage tables, per-partition lineage, checkpoint/resume
(SURVEY.md §5 item 5: restart -> identical final assignments)."""

import json
import os

import pytest

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.fixtures.webtext import WebtextParams, generate_pandas
from rabbittclust_spark.plans.pipeline import _MANIFEST, DedupPipeline

P = WebtextParams(num_clusters=6, members_per_cluster=5, num_singletons=10,
                  num_short=3, hot_cluster_size=5)
CFG = PipelineConfig(min_len=100)


@pytest.fixture(scope="module")
def corpus():
    return generate_pandas(P)


def _collect(df):
    return sorted((r.doc_id, r.cluster_id) for r in df.collect())


def test_pipeline_runs_and_resumes(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pipe"))
    docs = spark.createDataFrame(corpus[["doc_id", "text"]])
    p1 = DedupPipeline(spark, CFG, root)
    out1 = p1.run(docs)
    a1 = _collect(out1["assignments"])
    assert len(a1) > 0

    # manifests exist with lineage
    m = json.load(open(os.path.join(root, "edges", "_manifest.json")))
    assert m["config_hash"] == CFG.stage_hash("edges")
    assert m["rows"] == sum(r for _, r in m["partition_rows"])
    assert "sketches" in m["inputs"]

    # resume: delete a late stage, rerun -> early stages reused (manifest ids
    # unchanged), final assignments identical
    import shutil
    sk_id = json.load(open(os.path.join(root, "sketches", "_manifest.json")))["manifest_id"]
    shutil.rmtree(os.path.join(root, "membership"))
    shutil.rmtree(os.path.join(root, "assignments"))
    p2 = DedupPipeline(spark, CFG, root)
    out2 = p2.run(docs)
    assert _collect(out2["assignments"]) == a1
    sk_id2 = json.load(open(os.path.join(root, "sketches", "_manifest.json")))["manifest_id"]
    assert sk_id2 == sk_id  # sketches stage was NOT recomputed


def test_config_change_invalidates(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pipe2"))
    docs = spark.createDataFrame(corpus[["doc_id", "text"]])
    DedupPipeline(spark, CFG, root).run(docs)
    e_id = json.load(open(os.path.join(root, "edges", "_manifest.json")))["manifest_id"]
    import dataclasses
    cfg2 = dataclasses.replace(CFG, threshold=0.03)
    DedupPipeline(spark, cfg2, root).run(docs)
    e_id2 = json.load(open(os.path.join(root, "edges", "_manifest.json")))["manifest_id"]
    assert e_id2 != e_id  # recomputed under the new config


def test_html_entry_point(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pipe3"))
    docs = spark.createDataFrame(corpus[["doc_id", "html"]])
    out = DedupPipeline(spark, CFG, root).run(docs, html_col="html")
    assert out["extracted"].count() == len(corpus)
    assert out["assignments"].count() > 0


def test_metrics_table(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pipe4"))
    docs = spark.createDataFrame(corpus[["doc_id", "text"]])
    p = DedupPipeline(spark, CFG, root)
    p.run(docs)
    m = p.metrics()
    stages = {r.stage for r in m.collect()}
    assert {"exact_groups", "sketches", "edges", "membership",
            "assignments"} <= stages

    # the table is the history across runs: a resume after deleting one
    # stage adds rows for that stage and its dependents under the new run_id
    import shutil
    shutil.rmtree(os.path.join(root, "membership"))
    p2 = DedupPipeline(spark, CFG, root)
    p2.run(docs, resume=True)
    rows = p2.metrics().collect()
    runs = {run: {r.stage for r in rows if r.run_id == run}
            for run in {r.run_id for r in rows}}
    assert set(runs) == {p.run_id, p2.run_id}
    assert runs[p2.run_id] == {"membership", "assignments"}
    assert len(rows) == len(stages) + 2
    # the row matches the stage's manifest
    manifest = json.load(open(os.path.join(root, "membership", _MANIFEST)))
    (row,) = [r for r in rows if r.manifest_id == manifest["manifest_id"]]
    assert row.rows == manifest["rows"]
    assert json.loads(row.partition_rows_json) == manifest["partition_rows"]


def test_input_change_invalidates_resume(spark, corpus, tmp_path_factory):
    """Changed source data must not return stale stage outputs (root stages
    carry an input-data fingerprint in their manifests)."""
    root = str(tmp_path_factory.mktemp("pipe3"))
    docs = spark.createDataFrame(corpus[["doc_id", "text"]])
    DedupPipeline(spark, CFG, root).run(docs)
    sk_id = json.load(open(os.path.join(root, "sketches", "_manifest.json")))["manifest_id"]

    # mutate one document's text: same ids, same row count
    c2 = corpus.copy()
    c2.loc[c2.index[0], "text"] = c2.loc[c2.index[0], "text"] + " MUTATED TAIL"
    docs2 = spark.createDataFrame(c2[["doc_id", "text"]])
    out2 = DedupPipeline(spark, CFG, root).run(docs2, resume=True)
    sk_id2 = json.load(open(os.path.join(root, "sketches", "_manifest.json")))["manifest_id"]
    assert sk_id2 != sk_id  # sketches WERE recomputed for the new input
    assert out2["assignments"].count() > 0


def test_input_schema_gate(spark, corpus, tmp_path_factory):
    """File-format gate analog: a wrong input schema fails fast with a
    readable error (reference: .fasta/.fna/.fa gate, SketchInfo.cpp:555-562)."""
    root = str(tmp_path_factory.mktemp("pipe4"))
    bad = spark.createDataFrame([(1, 42)], "doc_id long, text int")
    with pytest.raises(ValueError, match="schema invalid"):
        DedupPipeline(spark, CFG, root).run(bad)
    missing = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="missing column"):
        DedupPipeline(spark, CFG, root).run(missing)


def test_reps_and_dedup_stages(spark, corpus, tmp_path_factory):
    """--reps-per-cluster and --dedup-dist stage wiring."""
    import dataclasses

    root = str(tmp_path_factory.mktemp("pipe5"))
    docs = spark.createDataFrame(corpus[["doc_id", "text"]])
    cfg = dataclasses.replace(CFG, reps_per_cluster=2, dedup_dist=0.02)
    out = DedupPipeline(spark, cfg, root).run(docs)
    assert "reps" in out and "dedup_groups" in out
    reps = out["reps"].toPandas()
    per_cluster = reps.groupby("cluster_id")["rep_id"].count()
    assert (per_cluster <= 2).all() and len(reps) > 0
    # rep_rank 0 is the deterministic min-doc start
    r0 = reps[reps.rep_rank == 0]
    assert (r0.groupby("cluster_id").size() == 1).all()


@pytest.mark.parametrize("exact_prededup", [True, False])
@pytest.mark.parametrize("pair_mode", ["probe", "index", "banded"])
def test_pipeline_matches_minhash_dedup(spark, corpus, tmp_path_factory,
                                        pair_mode, exact_prededup):
    """The persistent pipeline and the in-memory flagship run one stage
    graph: their assignments are identical in every pair mode, with and
    without the exact pre-collapse."""
    import dataclasses

    from rabbittclust_spark.operators.dedup import minhash_dedup

    cfg = dataclasses.replace(CFG, pair_mode=pair_mode,
                              exact_prededup=exact_prededup)
    docs = spark.createDataFrame(corpus[["doc_id", "text"]])
    root = str(tmp_path_factory.mktemp("parity"))
    piped = DedupPipeline(spark, cfg, root).run(docs, resume=False)
    in_memory = minhash_dedup(docs, cfg)
    assert (sorted(piped["assignments"].collect())
            == sorted(in_memory["assignments"].collect()))


def test_prededup_flip_recomputes_exact_groups(spark, corpus,
                                               tmp_path_factory):
    """exact_prededup decides the exact_groups table (md5 groups or the
    identity map), so resuming a root under the flipped flag recomputes it
    and returns what a fresh run returns."""
    import dataclasses

    docs = spark.createDataFrame(corpus[["doc_id", "text"]])
    root = str(tmp_path_factory.mktemp("flip"))
    DedupPipeline(spark, CFG, root).run(docs)
    off = dataclasses.replace(CFG, exact_prededup=False)
    resumed = DedupPipeline(spark, off, root).run(docs, resume=True)
    fresh = DedupPipeline(spark, off, str(tmp_path_factory.mktemp("fresh"))
                          ).run(docs, resume=False)
    for stage in ("exact_groups", "assignments"):
        assert (sorted(resumed[stage].collect())
                == sorted(fresh[stage].collect())), stage
