"""Per-stage scaling profile of the flagship pipeline: the attribution
instrument for the BASELINE.json >=0.8 efficiency criterion.

Runs the flagship stage-by-stage (extract, then the stages of
operators/dedup.flagship_stages: exact_groups / sketches / edges /
membership / assignments, each timed up to its materialize barrier) at BOTH
parallelism levels of the criterion pair, INTERLEAVED per rep so each
(lo, hi) comparison shares one host window, with per-stage walls and
per-stage external-core monitoring.  The per-stage efficiencies are then
compared against the MATCHED sustained hardware ceiling
(`scaling_bench.py --sustained-probe [--probe-kernel mem]`):

- cache-resident ALU work (hash+sort) ceilings at the `cpu` probe;
- bandwidth-bound stages (HTML extract string traffic, verify-join
  sketch-array traffic, parquet barrier I/O) ceiling at the `mem` probe
  (64 MB streaming), which is LOWER on this box because all cores share
  one memory bus — a real N -> 4N cluster adds private buses per
  executor, which is exactly what the criterion's normalization argues.

Usage: python tools/stage_profile.py [--pair 2 8] [--reps 3] [--no-shm]
Prints one JSON line per (cpus, rep) plus a summary line with per-stage
median efficiencies.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.scaling_bench import (  # noqa: E402
    CORPUS_DIR,
    ExternalCpuMonitor,
    use_shm_tmp,
    wait_for_quiet,
    warm_page_cache,
)


def profile(cpus: int) -> dict:
    from pyspark.sql import functions as F

    from rabbittclust_spark.config import PipelineConfig
    from rabbittclust_spark.operators.dedup import flagship_stages, minhash_dedup
    from rabbittclust_spark.operators.extract import with_extracted_text
    from rabbittclust_spark.session import get_spark
    from rabbittclust_spark.sources.tables import materialize, materialize_scope

    spark = get_spark(f"prof-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus * 2, 16))
    spark.sparkContext.setLogLevel("ERROR")
    cfg = PipelineConfig(pair_mode="probe")
    docs = spark.read.parquet(CORPUS_DIR).select("doc_id", "html")
    stages: dict[str, float] = {}
    ext: dict[str, float] = {}

    def timed(name, fn):
        mon = ExternalCpuMonitor()
        t0 = time.time()
        out = fn()
        stages[name] = round(time.time() - t0, 2)
        ext[name] = round(mon.stop(), 2)
        return out

    def timed_stage(name, reads, compute):
        return timed(name, lambda: materialize(compute(), name))

    with materialize_scope():
        # warmup: compile every unique plan shape AND warm every python
        # UDF worker outside the timers (see scaling_bench.run_flagship)
        minhash_dedup(
            with_extracted_text(docs.limit(32 * cpus).repartition(cpus)),
            cfg)["assignments"].count()

        T0 = time.time()
        extracted = timed("extract", lambda: materialize(
            with_extracted_text(docs), "extracted"))
        base = extracted.select(
            F.col("doc_id").cast("long").alias("doc_id"), F.col("text"))
        n = flagship_stages(base, cfg, timed_stage)["assignments"].count()
        total = round(time.time() - T0, 2)
    spark.stop()
    return {"cpus": cpus, "docs": n, "stages": stages, "ext": ext,
            "total": total}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pair", type=int, nargs=2, default=[2, 8])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-shm", action="store_true")
    args = ap.parse_args()
    if not args.no_shm:
        print(json.dumps({"shm_tmp": use_shm_tmp()}), flush=True)
    warm_page_cache()
    n_lo, n_hi = args.pair
    runs: list[dict] = []
    for rep in range(args.reps):
        for cpus in (n_lo, n_hi):
            wait_for_quiet()
            r = profile(cpus)
            r["rep"] = rep
            runs.append(r)
            print(json.dumps(r), flush=True)

    names = list(runs[0]["stages"])

    def _med(vals):
        vals = sorted(vals)
        mid = len(vals) // 2
        return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2

    eff = {}
    for s in names + ["total"]:
        per_rep = []
        for rep in range(args.reps):
            lo = next(r for r in runs if r["rep"] == rep and r["cpus"] == n_lo)
            hi = next(r for r in runs if r["rep"] == rep and r["cpus"] == n_hi)
            wl = lo["stages"].get(s, lo.get("total"))
            wh = hi["stages"].get(s, hi.get("total"))
            if s == "total":
                wl, wh = lo["total"], hi["total"]
            per_rep.append(wl / ((n_hi // n_lo) * wh))
        eff[s] = round(_med(per_rep), 3)
    print(json.dumps({"pair": [n_lo, n_hi], "stage_efficiency_median": eff}))


if __name__ == "__main__":
    main()
