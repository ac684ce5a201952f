"""Snapshot the physical plans every driver query runs, for plan diffs.

Usage: python tools/plan_snapshot.py <sf_dir> <out_dir> [query ...]

Runs each named query (default: every ``queries()`` entry) with the Spark
event log on.  Query names resolve as in bench.py: ``queries()``, then
``<name>_oracle`` for the four md5-sketch driver slots, then
``production_queries()``.  For every SQL execution the query starts
(``SparkListenerSQLExecutionStart``: each barrier write, each hot-key cap
collect, the final frame) it writes the action name and the
``physicalPlanDescription`` to ``<out_dir>/<query>.txt``, in execution
order.  Expression ids (``#123L``), plan ids, lambda variable ids and temp
paths are stripped, so two checkouts' snapshots diff cleanly:

    python tools/plan_snapshot.py /path/to/sf0.01 /tmp/plans_a q1 q2
    (same command from the other checkout into /tmp/plans_b)
    diff -r /tmp/plans_a /tmp/plans_b

Each query's frame is executed with a ``noop`` write, so no output columns
are pruned by a count or sent to the driver.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

_ORACLE_SLOTS = ("minhash_dedup", "minhash_dedup_banded", "simhash_dedup",
                 "substring_dedup")
_STRIP = [
    (re.compile(r"#\d+L?"), ""),                    # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=?"),
    (re.compile(r"\[id=#?\d+\]"), ""),
    (re.compile(r"file:[^\],\s]+"), "file:?"),      # barrier/temp paths
    (re.compile(r"path=[^\],\s]+"), "path=?"),
    (re.compile(r"(RDD|rdd)\[\d+\]"), r"\1[?]"),
    (re.compile(r"lambda (\w+?)_\d+"), r"lambda \1"),  # Python lambda vars
]


def strip_ids(plan: str) -> str:
    for pat, rep in _STRIP:
        plan = pat.sub(rep, plan)
    return plan


def _sql_starts(log_dir: Path) -> dict[int, tuple[str, str]]:
    """executionId -> (action, physical plan) from every event log file."""
    out = {}
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()
                       and not p.name.startswith((".", "appstatus"))):
        with open(path) as f:
            for line in f:
                if "SQLExecutionStart" not in line:
                    continue
                try:
                    ev = json.loads(line)
                except ValueError:      # a line still being written
                    continue
                if not ev.get("Event", "").endswith("SQLExecutionStart"):
                    continue
                action = (ev.get("description") or "").split(" ")[0]
                out[ev["executionId"]] = (action,
                                          ev.get("physicalPlanDescription", ""))
    return out


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    sf_dir, out_dir = sys.argv[1], Path(sys.argv[2])
    out_dir.mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("RTC_UNROLL_GUARD", "0")

    import __spark_entry__ as entrymod
    from rabbittclust_spark.session import get_spark

    qs = entrymod.queries()
    qs.update({f"{k}_oracle": qs[k] for k in _ORACLE_SLOTS})
    qs.update(entrymod.production_queries())
    names = sys.argv[3:] or list(entrymod.queries())

    log_dir = Path(tempfile.mkdtemp(prefix="plan_snapshot_"))
    spark = get_spark("plan-snapshot", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    seen = set(_sql_starts(log_dir))
    for name in names:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        bus.waitUntilEmpty()
        starts = _sql_starts(log_dir)
        new = sorted(set(starts) - seen)
        seen.update(new)
        with open(out_dir / f"{name}.txt", "w") as f:
            for i, eid in enumerate(new):
                action, plan = starts[eid]
                f.write(f"==== execution {i}: {action} ====\n")
                f.write(strip_ids(plan).rstrip() + "\n\n")
        print(f"{name}: {len(new)} executions")
    spark.stop()
    shutil.rmtree(log_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
