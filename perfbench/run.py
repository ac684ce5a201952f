"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 10 --trace 0

Runs one workload (see perfbench/README.md) from the root of a source
checkout, prints a report and, as the last line of standard output, one JSON
object: {"correct", "attempted", "failed", "metrics"}.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are its per-layer metrics.  ``--corrupt`` corrupts every output before
it is checked, to show that the checks count failures.

Everything the run writes (input cache, Spark scratch, outputs, event log)
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

T_IMPORT = time.time()
ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
# An operation during which processes outside this one kept more than this
# many cores busy is "disturbed": on a shared 4-core host such operations ran
# 20-40% slower.  The report counts them; normal runs read 0.05-0.17 cores.
QUIET_CORES = 0.2


def _process_start() -> float:
    """Epoch time this process started (from /proc, so interpreter start-up
    counts towards setup time)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        return time.time() - age
    except (OSError, ValueError, IndexError):
        return T_IMPORT


def _isolate_environment() -> None:
    """Keep every file the run writes inside the checkout, make the engine
    importable by Spark's Python workers, and drop measurement knobs so the
    program runs with its defaults."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    for knob in ("RTC_WIDE_BARRIERS", "SPARK_GRAFT_MIN_PARTITION_SIZE",
                 "SPARK_GRAFT_LIMIT_PARTS", "SPARK_GRAFT_MASTER",
                 "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(knob, None)
    sys.path.insert(0, str(ROOT))


def _start_spark(cores: int, event_dir: Path | None):
    from rabbittclust_spark.session import get_spark

    tmp = WORK / "tmp"
    conf = {"spark.driver.memory": "2g",
            "spark.local.dir": str(tmp),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(WORK / "warehouse")}
    if event_dir is not None:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir.as_uri(),
                     "spark.eventLog.compress": "false"})
    # explicit parallelism: get_spark's defaults (local[32], 32 shuffle
    # partitions) oversubscribe a small host
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Bench:
    """Timing, failure accounting and tracing shared by the workloads."""

    def __init__(self, args, spec: dict) -> None:
        from perfbench.trace import LogCapture, Tracer

        self.corrupt = args.corrupt
        self.cores = len(os.sched_getaffinity(0))
        self.out = WORK / "out" / str(os.getpid())
        self.out.mkdir(parents=True, exist_ok=True)
        self.tracer = Tracer()
        self.logs = LogCapture()
        self.logs.install()
        self.trace_now = False
        self.samples = []
        self.attempted = 0
        self.failed = 0
        self.bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    def timed(self, kind: str, span: str, units: int, fn):
        """Run ``fn`` as one timed operation; returns (result, Sample)."""
        from perfbench.workloads import Sample
        from tools.scaling_bench import ExternalCpuMonitor

        self.attempted += 1
        mon = ExternalCpuMonitor()
        t0, p0 = time.time(), time.perf_counter()
        root = None
        if self.trace_now:
            with self.tracer.patched(), self.tracer.span(span) as root:
                res = fn()
        else:
            res = fn()
        wall = time.perf_counter() - p0
        s = Sample(kind, wall, units, mon.stop(), self.trace_now, root, t0, time.time(),
                   extra={"cores": self.cores})
        return res, s

    def record(self, samples, timed: bool) -> None:
        for s in samples:
            s.extra["timed"] = timed
            if s.problems:
                self.failed += 1
                print(f"check failed [{s.kind}]: {'; '.join(s.problems)}", file=sys.stderr)
        self.samples.extend(samples)

    def error(self, exc: BaseException, started: bool) -> None:
        """A step that raised counts as one failed operation (and as one
        attempted operation if it raised before timing any)."""
        self.attempted += not started
        self.failed += 1
        traceback.print_exception(exc, file=sys.stderr)


def _timed(bench: Bench) -> list:
    return [s for s in bench.samples if s.extra.get("timed")]


def _trend(walls: list[float], bound: float) -> bool:
    """True when the first third's median is off from the last third's by
    more than ``bound``: the operations had not settled.  ``walls`` start
    with the last warm-up operation, so two timed operations give three
    points."""
    if len(walls) < 3:
        return False
    k = max(1, len(walls) // 3)
    a, b = statistics.median(walls[:k]), statistics.median(walls[-k:])
    return abs(b - a) / a > bound


def _end_to_end(bench: Bench, wl, setup_s: float) -> tuple[dict, dict]:
    """(metrics named as in BENCHMARK.json, report named per workload)."""
    med = statistics.median
    timed = _timed(bench)
    kinds = sorted({s.kind for s in timed})
    walls = {k: [s.wall_s for s in timed if s.kind == k] for k in kinds}
    warm = {k: [s.wall_s for s in bench.samples if s.kind == k
                and s.extra.get("round") == wl.warmups - 1] for k in kinds}
    ops = wl.op_walls(timed)
    rate = [s.units / s.wall_s for s in timed if s.kind == wl.rate_kind]
    metrics = {"setup_s": setup_s, "op_p50_s": med(ops), "docs_per_s": med(rate)}

    report = {"setup_s": {"value": setup_s, "unit": "s", "n": wl.setups}}
    for k in kinds:
        report[f"{k}_p50_s"] = {"value": med(walls[k]), "unit": "s", "n": len(walls[k]),
                                "all": [round(w, 3) for w in walls[k]],
                                "last_warmup": [round(w, 3) for w in warm[k]]}
    report["docs_per_s"] = {"value": med(rate), "unit": "docs/s", "n": len(rate)}
    report["fail_frac"] = {"value": bench.failed / max(1, bench.attempted),
                           "unit": "frac", "n": bench.attempted}
    ext = [s.ext_cpu for s in timed]
    report["ext_cpu_cores"] = {"median": med(ext), "max": max(ext), "n": len(ext),
                               "disturbed": sum(x > QUIET_CORES for x in ext)}
    report["unsteady"] = any(_trend(warm[k] + walls[k], bench.bound["op_p50_s"])
                             for k in kinds)
    report["digest"] = wl.digest
    return metrics, report


def _per_layer(bench: Bench, wl, spec: dict, session_s: float, event_dir: Path) -> dict:
    from perfbench.trace import attribute, read_event_log, span_table

    tr = bench.tracer
    jobs = read_event_log(event_dir)
    attribute(tr, jobs)
    traced = [s for s in _timed(bench) if s.traced]
    per_op = [wl.layers(tr, jobs, bench.logs, s) for s in traced]
    out = {}
    for m in spec["per_layer"]:
        vals = [d[m["name"]] for d in per_op if m["name"] in d]
        out[m["name"]] = statistics.median(vals) if vals else 0.0
    out["session.start_s"] = session_s

    # the span wrappers' cost only: the event log is on for the plain
    # operations of this run too (its cost shows as their median against
    # an untraced run's op_p50_s)
    on = wl.op_walls(traced)
    off = wl.op_walls([s for s in _timed(bench) if not s.traced])
    if on and off:
        out["trace.overhead_s"] = statistics.median(on) - statistics.median(off)
        out["trace.overhead_frac"] = out["trace.overhead_s"] / statistics.median(off)

    roots = [s.root for s in traced]
    table = span_table(tr, roots)
    op_wall = sum(tr.spans[r].wall for r in roots)
    print(f"spans over {len(roots)} traced operations ({op_wall:.3f} s):")
    for row in table:
        print(f"  {row['span']:<48} calls={row['calls']:<4} wall={row['wall_s']:8.3f} s"
              f"  self={row['self_s']:8.3f} s")
    print(f"  self times sum to {sum(r['self_s'] for r in table):.3f} s of {op_wall:.3f} s")
    return out


def run(args) -> int:
    t_proc = _process_start()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    _isolate_environment()
    try:
        import rabbittclust_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    bench = Bench(args, spec)
    event_dir = WORK / "eventlog" / str(os.getpid()) if args.trace else None
    try:
        result = _measure(args, spec, bench, t_proc, event_dir)
    finally:
        shutil.rmtree(bench.out, ignore_errors=True)
        if event_dir is not None:
            shutil.rmtree(event_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _measure(args, spec: dict, bench: Bench, t_proc: float, event_dir: Path | None) -> dict:
    """Set up, warm up and time one workload; returns the result object."""
    from rabbittclust_spark.sources.tables import materialize_scope

    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](bench)
    g0 = time.perf_counter()
    wl.prepare(WORK, args.seed)
    gen_s = time.perf_counter() - g0

    if event_dir is not None:
        shutil.rmtree(event_dir, ignore_errors=True)
        event_dir.mkdir(parents=True)
    spark = _start_spark(bench.cores, event_dir)
    try:
        session_s = time.time() - t_proc - gen_s
        setups = []
        for _ in range(wl.setups):
            p0 = time.perf_counter()
            wl.setup(spark)
            setups.append(time.perf_counter() - p0)
        setup_s = session_s + statistics.median(setups)
        phases = {"gen_s": gen_s, "session_s": session_s, "setups_s": sum(setups)}
        if hasattr(wl, "check_base"):
            bench.attempted += 1
            problems = wl.check_base()
            if problems:
                bench.failed += 1
                print(f"check failed [base]: {'; '.join(problems)}", file=sys.stderr)

        def step(i: int, traced: bool = False) -> None:
            bench.trace_now = traced
            before = bench.attempted
            try:
                with materialize_scope():
                    samples = wl.step(i)
            except Exception as exc:  # an operation that raises is a failure
                bench.error(exc, started=bench.attempted > before)
                return
            for s in samples:
                s.extra["round"] = i
            bench.record(samples, timed=i >= wl.warmups)

        p0 = time.perf_counter()
        for i in range(wl.warmups):
            step(i)
        t_start, n = time.perf_counter(), 0
        phases["warmup_s"] = t_start - p0
        # the traced run alternates plain and traced operations (plain,
        # traced, plain, ...), at least three, so a trend left in the
        # timings cancels out of the tracing overhead
        min_ops = wl.min_ops + 1 if args.trace else wl.min_ops
        while n < min_ops or time.perf_counter() - t_start < args.seconds:
            step(wl.warmups + n, traced=bool(args.trace) and n % 2 == 1)
            n += 1
        if not _timed(bench):
            raise RuntimeError("no operation completed")
        phases["timed_s"] = time.perf_counter() - t_start
        metrics, report = _end_to_end(bench, wl, setup_s)
    finally:
        p0 = time.perf_counter()
        _stop_spark(spark)
    phases["stop_s"] = time.perf_counter() - p0
    phases["process_s"] = time.time() - t_proc
    report["phases"] = phases
    print(f"perfbench {wl.name} seed={args.seed}: {json.dumps(report)}")
    if args.trace:
        metrics = _per_layer(bench, wl, spec, session_s, event_dir)
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]
    return {"correct": bench.failed == 0, "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in wanted}}




def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_batch", "stream_append_query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt every output before checking it (self-test)")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
