"""The closed-loop, single-client workloads.

Each workload prepares its seeded inputs (outside every timing), sets up
its state (timed into ``setup_s``), then runs operations one after another.
``Bench.timed`` measures one operation; the caller checks the output right
after, outside the timing, and records the check's problems on the sample.
In the traced run every other operation runs with span wrappers installed,
and ``layers`` turns one traced operation's spans, jobs and log lines into
the per-layer metrics.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

from perfbench import checks, inputs
from perfbench.trace import Totals, totals


@dataclass
class Sample:
    kind: str                 # "batch", "append", "query"
    wall_s: float
    units: int                # docs this operation processed
    ext_cpu: float            # mean external cores busy during the operation
    traced: bool
    root: int | None = None   # root span index when traced
    t0: float = 0.0           # epoch bounds, for log-line attribution
    t1: float = 0.0
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def _du(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Workload:
    name = ""
    setups = 2       # set-ups per run; setup_s reports their median
    # untimed operations before timing starts, set per workload where its
    # measured JIT warm-up curve has flattened
    warmups: int
    # timed operations even if --seconds is shorter.  Two, not three: with
    # the warm-ups the JIT curve needs, a third would take the matrix past
    # its time budget (see README.md).  The trend guard compares them with
    # the last warm-up.
    min_ops = 2
    rate_kind = ""   # the operations docs_per_s counts

    def __init__(self, bench) -> None:
        self.bench = bench
        self.digest = ""

    def victim(self, df: pd.DataFrame) -> int:
        """The row ``--corrupt`` moves or drops: a member of the largest
        cluster, which the checks constrain on every workload."""
        top = df["cluster_id"].value_counts().index[0]
        return int(df.loc[df["cluster_id"] == top, "doc_id"].min())

    def finish(self, sample: Sample, out: pd.DataFrame, check,
               key: str = "doc_id", val: str = "cluster_id",
               victim: int | None = None) -> pd.DataFrame:
        """Run ``check`` on ``out`` (corrupted first under ``--corrupt``)."""
        if self.bench.corrupt:
            v = self.victim(out) if victim is None else victim
            mode = "move" if self.bench.attempted % 2 == 0 else "drop"
            out = checks.corrupt(out, v, mode, key=key, val=val)
        sample.problems = check(out)
        return out

    def op_walls(self, samples: list[Sample]) -> list[float]:
        """Wall time of each timed operation."""
        return [s.wall_s for s in samples]

    def same_output(self, s: Sample, got: pd.DataFrame) -> None:
        """Repeated operations on one input must give identical outputs."""
        d = checks.digest(got)
        if not self.digest:
            self.digest = d
        elif d != self.digest:
            s.problems.append(f"output digest {d} differs from the first "
                              f"operation's {self.digest} on identical input")


# ------------------------------------------------------------ crawl_batch

class CrawlBatch(Workload):
    """One cold-output DedupPipeline run per operation over one single-file
    crawl with a boilerplate group above the posting cap."""

    name = "crawl_batch"
    # in one session the first eight operations took 21.9, 10.9, 9.1, 8.7,
    # 8.9, 9.2, 9.9 and 9.6 s (the last two with other tenants busy), and
    # over 30 runs the second was a median 8% slower than the third
    warmups = 2
    rate_kind = "batch"

    def prepare(self, work: Path, seed: int) -> None:
        from rabbittclust_spark.config import PipelineConfig

        self.size = inputs.CrawlSize()
        self.dir = inputs.crawl_inputs(work, seed, self.size)
        self.truth = pd.read_parquet(self.dir / "truth.parquet")
        self.cfg = PipelineConfig(max_posting=self.size.max_posting)
        self.n_docs = len(self.truth)

    def setup(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(str(self.dir / "corpus.parquet"))

    def step(self, i: int) -> list[Sample]:
        from rabbittclust_spark.plans.pipeline import DedupPipeline

        out_root = self.bench.out / f"crawl_{i}"
        pipe = DedupPipeline(self.spark, self.cfg, str(out_root))
        res, s = self.bench.timed(
            "batch", "pipeline.run", self.n_docs,
            lambda: pipe.run(self.docs, resume=False, html_col="html"))
        got = res["assignments"].select("doc_id", "cluster_id").toPandas()
        got = self.finish(s, got, lambda d: checks.check_assignments(
            d, self.truth, self.cfg.min_len))
        self.same_output(s, got)
        if s.traced:
            s.extra["stages"] = {r["stage"]: (float(r["wall_sec"]), int(r["rows"]))
                                 for r in pipe.metrics().collect()}
        shutil.rmtree(out_root, ignore_errors=True)
        return [s]

    def layers(self, tr, jobs, logs, s: Sample) -> dict:
        m = _common(tr, jobs, logs, s)
        stages = s.extra["stages"]
        wall = {k: v[0] for k, v in stages.items()}
        rows = {k: v[1] for k, v in stages.items()}

        def write(label: str) -> Totals:
            return totals(tr, jobs, tr.find(s.root, "write", label))

        m["extract.wall_s"] = wall.get("extracted", 0.0)
        m["extract.task_s"] = write("extracted").task_s
        m["dedup.exact_wall_s"] = wall.get("exact_groups", 0.0)
        m["dedup.exact_shuffle_bytes"] = write("exact_groups").shuffle_write
        sk = write("sketches")
        sk_wall = sum(tr.spans[i].wall for i in tr.find(s.root, "write", "sketches"))
        m["sketch.wall_s"] = wall.get("sketches", 0.0)
        m["sketch.task_s"] = sk.task_s
        m["sketch.core_util"] = sk.task_s / (sk_wall * self.bench.cores) if sk_wall else 0.0
        m["sketch.docs"] = rows.get("sketches", 0)
        be = tr.find(s.root, "pairs.build_edges")
        cand = tr.find(s.root, "tables.materialize", "cand")
        verify = tr.find(s.root, "tables.materialize", "pair_counts")
        if be and cand:
            m["pairs.cand_s"] = tr.spans[cand[0]].end - tr.spans[be[0]].start
            m["pairs.candidates"] = totals(tr, jobs, cand).out_records
        if verify:
            m["pairs.verify_s"] = tr.spans[verify[0]].wall
            m["pairs.verified"] = totals(tr, jobs, verify).out_records
        m["pairs.edges"] = rows.get("edges", 0)
        if m["pairs.candidates"]:
            m["pairs.edge_yield"] = m["pairs.edges"] / m["pairs.candidates"]
        m["pairs.hot_keys"], m["pairs.hot_postings"] = logs.hot(s.t0, s.t1)
        m["pairs.shuffle_bytes"] = totals(
            tr, jobs, be + tr.find(s.root, "write", "edges")).shuffle_write
        m["postprocess.wall_s"] = wall.get("assignments", 0.0)
        m["pipeline.stage_sum_s"] = sum(wall.values())
        m["pipeline.bookkeeping_s"] = s.wall_s - m["pipeline.stage_sum_s"]
        m["pipeline.jobs"] = totals(tr, jobs, [s.root]).jobs
        return m


# ---------------------------------------------------- stream_append_query

class StreamAppendQuery(Workload):
    """A base state built in setup, then rounds of one assign_or_novel query
    against the current representatives and one process_batch append."""

    name = "stream_append_query"
    # the set-up builds the base state: 17-23 s cold, ~10 s warm.  One
    # build, not several: a second one would not fit the matrix's time
    # budget.  After it the rounds' queries took 2.8, 2.2 and 2.1 s and
    # their appends 4.6, 4.2 and 3.9 s (medians over three seeds): two
    # warm-up rounds.
    setups = 1
    warmups = 2
    rate_kind = "append"

    def prepare(self, work: Path, seed: int) -> None:
        from rabbittclust_spark.config import PipelineConfig

        self.size = inputs.StreamSize()
        self.dir = inputs.stream_inputs(work, seed, self.size)
        self.truth = pd.read_parquet(self.dir / "truth.parquet")
        self.cfg = PipelineConfig(max_posting=self.size.max_posting)
        self.batches = sorted(p.name for p in self.dir.glob("batch_*.parquet"))
        self.queries = sorted(p.name for p in self.dir.glob("queries_*.parquet"))

    def _read(self, name: str):
        return self.spark.read.parquet(str(self.dir / name))

    def setup(self, spark) -> None:
        """Build the base state in a fresh state root."""
        from rabbittclust_spark.sources.tables import materialize_scope
        from rabbittclust_spark.streaming.ingest import StreamingDedup

        self.spark = spark
        state = self.bench.out / "stream_state"
        with materialize_scope():
            self.sink = StreamingDedup(spark, self.cfg, str(state))
            self.sink.process_batch(self._read("base.parquet"), 0)
        self.batch_id = 0
        self.in_state = set(pd.read_parquet(self.dir / "base.parquet")["doc_id"])

    def check_base(self) -> list[str]:
        """Problems in the base state; also records the state's clusters."""
        got = self.sink.assignments().toPandas()
        self.state_cluster = dict(zip(got["doc_id"].astype(int), got["cluster_id"].astype(int)))
        self.digest = checks.digest(got)
        return checks.check_assignments(got, self._state_truth(), self.cfg.min_len)

    def _state_truth(self) -> pd.DataFrame:
        return self.truth[self.truth["doc_id"].isin(self.in_state)]

    def op_walls(self, samples: list[Sample]) -> list[float]:
        """One operation is a round: its query plus its append."""
        rounds: dict[int, float] = {}
        for s in samples:
            rounds[s.extra["round"]] = rounds.get(s.extra["round"], 0.0) + s.wall_s
        return list(rounds.values())

    def step(self, i: int) -> list[Sample]:
        if self.batch_id >= len(self.batches):
            raise RuntimeError("stream workload ran out of prepared batches")
        return [self._query(i), self._append()]

    def _query(self, i: int) -> Sample:
        from rabbittclust_spark.streaming import incremental

        qname = self.queries[i % len(self.queries)]
        qdocs = self._read(qname)
        qids = pd.read_parquet(self.dir / qname, columns=["doc_id"])["doc_id"].tolist()

        def query():
            sk, asg = self.sink.load_state()
            reps = sk.join(asg.where("doc_id = cluster_id").select("doc_id"), "doc_id")
            return incremental.assign_or_novel(reps, qdocs, self.cfg).toPandas()

        res, q = self.bench.timed("query", "incremental.assign_or_novel", len(qids), query)
        self.finish(q, res, lambda d: checks.check_queries(
            d, qids, self.truth, self.state_cluster),
            key="query_id", val="rep_id", victim=self._tight(qids))
        return q

    def _append(self) -> Sample:
        bname = self.batches[self.batch_id]
        self.batch_id += 1
        batch = self._read(bname)
        bids = pd.read_parquet(self.dir / bname, columns=["doc_id"])["doc_id"].tolist()
        _, a = self.bench.timed("append", "ingest.process_batch", len(bids),
                                lambda: self.sink.process_batch(batch, self.batch_id))
        self.in_state.update(bids)
        got = self.sink.assignments().toPandas()
        got = self.finish(a, got, lambda d: checks.check_assignments(
            d, self._state_truth(), self.cfg.min_len))
        self.state_cluster = dict(zip(got["doc_id"].astype(int), got["cluster_id"].astype(int)))
        if a.traced:
            v = max(int(p.name[1:]) for p in Path(self.sink.state_root).glob("v*"))
            a.extra["state_bytes"] = _du(Path(self.sink.state_root) / f"v{v}")
            a.extra["state_docs"] = len(got)
        return a

    def _tight(self, qids: list[int]) -> int:
        t = self.truth.set_index("doc_id").loc[qids]
        return int(t.index[t["kind"] != "singleton"][0])

    def layers(self, tr, jobs, logs, s: Sample) -> dict:
        """query.* from query operations; every other layer from appends."""
        if s.kind == "query":
            t = totals(tr, jobs, [s.root])
            return {"query.jobs": t.jobs, "query.task_s": t.task_s,
                    "query.shuffle_bytes": t.shuffle_write}
        m = _common(tr, jobs, logs, s)
        sk = tr.find(s.root, "tables.materialize", "append_sketches")
        pc = tr.find(s.root, "tables.materialize", "append_pair_counts")
        if sk:
            m["incremental.sketch_s"] = tr.spans[sk[0]].wall
        if sk and pc:
            m["incremental.pairs_s"] = tr.spans[pc[0]].end - tr.spans[sk[0]].end
            m["incremental.candidates"] = totals(tr, jobs, pc).out_records
        writes = [i for i in tr.find(s.root, "write")
                  if tr.spans[i].label in ("sketches", "assignments")]
        m["ingest.state_write_s"] = sum(tr.spans[i].wall for i in writes)
        m["ingest.state_bytes"] = s.extra["state_bytes"]
        m["ingest.state_bytes_per_doc"] = s.extra["state_bytes"] / s.extra["state_docs"]
        return m


def _common(tr, jobs, logs, s: Sample) -> dict:
    """Layer metrics every workload measures the same way."""
    m: dict = {}
    cc = tr.find(s.root, "components.connected_components")
    if cc:
        t = totals(tr, jobs, cc)
        m["components.wall_s"] = sum(tr.spans[i].wall for i in cc)
        m["components.jobs"] = t.jobs
        m["components.shuffle_bytes"] = t.shuffle_write
        m["components.edges_in"] = totals(
            tr, jobs, [i for c in cc for i in tr.find(c, "tables.materialize", "cc_edges")]
        ).out_records
    bars = tr.find(s.root, "tables.materialize")
    bt = totals(tr, jobs, bars)
    m["tables.barriers"] = len(bars)
    m["tables.barrier_s"] = sum(tr.spans[i].wall for i in bars)
    m["tables.barrier_bytes"] = bt.out_bytes
    t = totals(tr, jobs, [s.root])
    m["spark.jobs"] = t.jobs
    m["spark.stages"] = t.stages
    m["spark.tasks"] = t.tasks
    m["spark.task_s"] = t.task_s
    m["spark.gc_s"] = t.gc_s
    m["spark.shuffle_write_bytes"] = t.shuffle_write
    m["spark.spill_bytes"] = t.spill
    m["spark.core_util"] = t.task_s / (s.wall_s * s.extra["cores"])
    m["trace.untraced_remainder_s"] = tr.self_time(s.root)
    return m


WORKLOADS = {w.name: w for w in (CrawlBatch, StreamAppendQuery)}

