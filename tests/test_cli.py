"""tools/run_pipeline.py CLI surface: build, RepDB query/assign, append —
the reference-flag mapping MIGRATION.md documents."""

import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import run_pipeline  # noqa: E402

from rabbittclust_spark.fixtures.webtext import WebtextParams, generate_pandas


@pytest.fixture(scope="module")
def cli_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    corpus = generate_pandas(WebtextParams(
        num_clusters=4, members_per_cluster=4, num_singletons=6,
        num_short=2, hot_cluster_size=4))
    docs = spark.createDataFrame(corpus[["doc_id", "text"]])
    in_path = str(root / "docs.parquet")
    docs.write.mode("overwrite").parquet(in_path)
    return {"in": in_path, "out": str(root / "out"), "root": root}


def _run(argv):
    old = sys.argv
    sys.argv = ["run_pipeline.py"] + argv
    try:
        run_pipeline.main()
    finally:
        sys.argv = old


def test_cli_build_query_assign_append(spark, cli_dirs):
    base = ["--input", cli_dirs["in"], "--output", cli_dirs["out"], "-m", "100"]
    _run(base + ["--dedup-dist", "0.02", "--reps-per-cluster", "2", "--dense"])
    for stage in ("assignments", "dedup_groups", "reps", "assignments_dense"):
        assert os.path.isdir(os.path.join(cli_dirs["out"], stage)), stage
    a = spark.read.parquet(os.path.join(cli_dirs["out"], "assignments"))
    assert a.count() > 0

    _run(base + ["--db-query", cli_dirs["in"], "--top-k", "2"])
    q = spark.read.parquet(os.path.join(cli_dirs["out"], "query_topk"))
    assert q.count() > 0 and q.groupBy("query_id").count() \
        .agg({"count": "max"}).collect()[0][0] <= 2

    _run(base + ["--db-assign", cli_dirs["in"]])
    asg = spark.read.parquet(os.path.join(cli_dirs["out"], "assign"))
    assert set(asg.columns) == {"query_id", "rep_id", "dist", "is_novel"}

    _run(base + ["--append", cli_dirs["in"]])
    st = json.load(open(os.path.join(cli_dirs["out"], "STATE.json")))
    assert st["version"] == 1
    app = spark.read.parquet(st["assignments"])
    assert app.count() >= a.count()


def test_cli_append_accumulates(spark, cli_dirs, tmp_path):
    """Repeated --append must read the PREVIOUS append's state (versioned
    pointer), not the original build — batch #1's docs survive batch #2."""
    base = ["--input", cli_dirs["in"], "--output", cli_dirs["out"], "-m", "100"]
    # fresh build resets the pointer from the earlier test's append
    _run(base + ["--no-resume"])
    assert not os.path.exists(os.path.join(cli_dirs["out"], "STATE.json"))
    n0 = spark.read.parquet(
        os.path.join(cli_dirs["out"], "assignments")).count()

    def _batch(seed, offset, path):
        corpus = generate_pandas(WebtextParams(
            seed=seed, num_clusters=2, members_per_cluster=3,
            num_singletons=2, num_short=0, hot_cluster_size=0))
        corpus = corpus[["doc_id", "text"]].assign(
            doc_id=corpus["doc_id"] + offset)
        spark.createDataFrame(corpus).write.mode("overwrite").parquet(path)

    b1 = str(tmp_path / "b1.parquet")
    b2 = str(tmp_path / "b2.parquet")
    _batch(101, 10_000, b1)
    _batch(202, 20_000, b2)

    _run(base + ["--append", b1])
    st1 = json.load(open(os.path.join(cli_dirs["out"], "STATE.json")))
    n1 = spark.read.parquet(st1["assignments"]).count()
    _run(base + ["--append", b2])
    st2 = json.load(open(os.path.join(cli_dirs["out"], "STATE.json")))
    n2 = spark.read.parquet(st2["assignments"]).count()
    assert st2["version"] == 2
    assert n1 > n0 and n2 > n1  # batch #1 docs still present after batch #2
    ids = {r.doc_id for r in
           spark.read.parquet(st2["assignments"]).select("doc_id").collect()}
    assert any(10_000 <= i < 20_000 for i in ids)
    assert any(i >= 20_000 for i in ids)


def test_cli_adopts_build_sketch_params(spark, cli_dirs, capsys):
    """--db-query with mismatched -k/-s must sketch queries with the BUILD's
    params (header-validation analog, src/Sketch_IO.cpp:136-167)."""
    _run(["--input", cli_dirs["in"], "--output", cli_dirs["out"],
          "-m", "100", "--db-query", cli_dirs["in"],
          "-k", "7", "-s", "64", "--top-k", "1"])
    msg = capsys.readouterr().out
    assert "adopting the build's values" in msg
    assert "shingle_k" in msg and "sketch_size" in msg
    q = spark.read.parquet(os.path.join(cli_dirs["out"], "query_topk"))
    # the corpus queried against itself (self-matches excluded by design):
    # cluster members find their near-dup twins at tiny distances.  Query
    # sketches built with the CLI's mismatched k=7/s=64 would share ~no
    # hash with the k=21 rep index (different rolling-hash domain), so a
    # populated result with near-zero top hits proves the build's params
    # were adopted for query sketching.
    rows = q.collect()
    assert len(rows) > 0
    assert min(r.dist for r in rows) < 0.01


def test_cli_auto_threshold_report(spark, cli_dirs):
    """--auto-threshold writes the reference-format analysis report
    (src/MST.cpp:2285-2375) next to the stage tables."""
    _run(["--input", cli_dirs["in"], "--output", cli_dirs["out"],
          "-m", "100", "--auto-threshold"])
    text = open(os.path.join(cli_dirs["out"], "threshold_analysis.txt")).read()
    assert text.startswith("# Automatic Threshold Selection Analysis")
    assert "## Edge Length Statistics" in text
    assert "## Optimal Threshold (Recommended)" in text


def test_cli_stats_report(spark, cli_dirs, capsys):
    """--stats prints the RepDB statistics report for the built state
    (reference print_stats sections, src/greedy.cpp:2656-2770)."""
    base = ["--input", cli_dirs["in"], "--output", cli_dirs["out"], "-m", "100"]
    _run(base)  # build (resume makes this a no-op when already built)
    _run(base + ["--stats"])
    out = capsys.readouterr().out
    for section in ("RepDB Statistics Report", "[Basic Info]", "[Scale]",
                    "[Inverted Index]", "[Cluster Size Distribution]",
                    "[Representative Sketch Sizes]", "[Doc Coverage]"):
        assert section in out
    import re
    m = re.search(r"Total docs:\s+(\d+)", out)
    n = spark.read.parquet(os.path.join(cli_dirs["out"], "assignments")).count()
    assert m and int(m.group(1)) == n
    assert re.search(r"Compression ratio:\s+\d+\.\d\d%", out)


def test_cli_append_honors_cli_threshold(spark, cli_dirs, capsys):
    """ADVICE r3: `threshold` is NOT sketch identity — query/append modes
    must honor a user-supplied -d instead of silently adopting the build's
    (the reference reuses --presketched sketches under a new -d,
    src/main.cpp:616-641)."""
    base = ["--input", cli_dirs["in"], "--output", cli_dirs["out"], "-m", "100"]
    _run(base + ["--no-resume"])
    _run(base + ["--db-assign", cli_dirs["in"], "-d", "0.2"])
    msg = capsys.readouterr().out
    assert "threshold" not in msg.split("adopting the build's values")[-1]
    loose = spark.read.parquet(os.path.join(cli_dirs["out"], "assign"))
    n_loose = loose.where("is_novel").count()
    _run(base + ["--db-assign", cli_dirs["in"], "-d", "0.01"])
    tight = spark.read.parquet(os.path.join(cli_dirs["out"], "assign"))
    n_tight = tight.where("is_novel").count()
    # the novelty boundary IS the CLI -d: a looser -d marks strictly fewer
    # docs novel.  With the old behavior both runs adopted the build's
    # -d 0.05 and produced identical novel counts.
    assert n_loose < n_tight
    import run_pipeline as rp
    assert "threshold" not in rp._SKETCH_PARAMS
