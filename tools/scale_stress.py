"""Scale stress: ~1M-doc flagship run under the DEFAULT config.

Evidence for the 100x-design claim beyond the bench corpus (BENCH/SCALE.md):

- the default skew path in anger: a hot-boilerplate cluster LARGER than the
  default max_posting=2000, so the posting cap + star escalation fire on a
  real run (counts captured from the operator's own log lines — no silent
  caps);
- distributed large-star/small-star CC on a multi-million-edge graph (above
  the 2M driver cutoff), with iteration count, and a spot check that the
  distributed result matches the driver union-find bit-for-bit;
- end-to-end docs/s at 4x the previous 242k-doc stress run.

Usage: python tools/scale_stress.py [--clusters 80000] [--hot 25000]
Writes BENCH/SCALE.md and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CORPUS_DIR = os.path.join(ROOT, ".out", "stress_corpus")


# Static history appended to every regenerated SCALE.md — the run table
# above is replaced per run; these sections carry the round-over-round
# record and the cap-sizing rationale that earlier regenerations lost.
_HISTORY_MD = """
Round-over-round (same corpus and default config throughout): r3 measured
247-306 s (3217-3987 docs/s); r4 187.5 s / 5254 docs/s (vectorized driver
union-find, single-aggregate hot-key accounting); r8 198.3 s / 4967 docs/s
with the SAME outputs bit-for-bit (edges 1657845, clusters 533394, hot
25000-doc clique fully recovered, 0 CC mismatches) — four rounds of
changes (oracle hooks, ICWS vectorization, scan spreading) left the
million-doc flagship result identical, and the wall difference is host
variance (the CC spot-check walls swing 20-81 s on identical inputs).

## Why max_posting=2000 (r3 experiment, kept for the record)

The first finite default (20000) was sized by posting LENGTH; the correct
budget is JOIN OUTPUT (p^2/2 rows per key).  At 20000 the 25k-doc hot
cluster dropped its hottest keys but left shoulder keys just under the
cap, and p^2 at p~15000 is 10^8 rows per key — Spark spilled >60 GB of
shuffle and died.  With the cap at 2000 + star escalation the same corpus
runs end-to-end AND the 25000-doc mutual-near-dup clique is still
recovered as ONE cluster (largest_cluster == 25000): anchor-star
candidates pass exact verification and connected components restores the
clique transitively.

Recall argument for the lower cap: a true near-dup pair at the d=0.05
boundary shares ~J*B = 7 of its bottom-32 probe hashes; losing the >2000-
posting subset of those only loses the pair if ALL shared hashes are hot,
which requires the pair's similarity to be pure boilerplate — exactly the
case star escalation + CC recovers when they are mutual near-dups of the
anchor, and exactly the case that SHOULD be dropped when they are not.
"""


class _Capture(logging.Handler):
    def __init__(self) -> None:
        super().__init__()
        self.lines: list[str] = []

    def emit(self, record: logging.LogRecord) -> None:
        self.lines.append(record.getMessage())


def main() -> None:
    ap = argparse.ArgumentParser()
    # members=6 (not 10): verify-join shuffle bytes are
    # O(candidate_pairs x sketch_size); 120k x C(6,2)=15 pairs keeps the
    # worst shuffle inside this sandbox's ~60 GB free disk while still
    # driving >1M docs end-to-end (a real cluster node has far more
    # shuffle disk per executor; the per-pair byte cost is the invariant)
    ap.add_argument("--clusters", type=int, default=120_000)
    ap.add_argument("--members", type=int, default=6)
    ap.add_argument("--hot", type=int, default=25_000,
                    help="hot-boilerplate cluster size (>> default cap 2000)")
    ap.add_argument("--min-tokens", type=int, default=150)
    ap.add_argument("--max-tokens", type=int, default=400)
    # 65536, not the fixture default 4096: at 1M docs a 4096-token vocab
    # puts every token bigram in ~16 docs, so bottom-32 probe postings
    # produce O(100M) accidental 1-shared-hash candidates and the verify
    # join's two-full-sketches-per-candidate shuffle exceeds this sandbox's
    # disk.  A 65536 vocab restores realistic cross-doc shingle density;
    # the cfg.min_probe_common>=2 knob is the engine-side lever for truly
    # phrase-dense corpora.
    ap.add_argument("--vocab", type=int, default=65_536)
    ap.add_argument("--skip-gen", action="store_true")
    args = ap.parse_args()

    from rabbittclust_spark.config import PipelineConfig
    from rabbittclust_spark.fixtures.webtext import WebtextParams, generate_spark
    from rabbittclust_spark.operators.dedup import minhash_dedup
    from rabbittclust_spark.session import get_spark
    from rabbittclust_spark.sources.tables import materialize

    p = WebtextParams(num_clusters=args.clusters,
                      members_per_cluster=args.members,
                      num_singletons=args.clusters * 2,
                      num_short=args.clusters // 4,
                      hot_cluster_size=args.hot,
                      min_doc_tokens=args.min_tokens,
                      max_doc_tokens=args.max_tokens,
                      vocab_size=args.vocab)
    spark = get_spark("scale-stress", master="local[32]",
                      shuffle_partitions=128,
                      extra_conf={"spark.driver.memory":
                                  os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                                 "24g")})
    spark.sparkContext.setLogLevel("ERROR")

    if not args.skip_gen:
        t0 = time.time()
        generate_spark(spark, p).repartition(128).select("doc_id", "text") \
            .write.mode("overwrite").parquet(CORPUS_DIR)
        gen_s = time.time() - t0
    else:
        gen_s = None
    docs = spark.read.parquet(CORPUS_DIR)
    n_gen = docs.count()

    cap = _Capture()
    for name in ("rabbittclust_spark.operators.pairs",
                 "rabbittclust_spark.operators.components"):
        lg = logging.getLogger(name)
        lg.setLevel(logging.INFO)
        lg.addHandler(cap)

    cfg = PipelineConfig()  # DEFAULTS: probe mode, max_posting=2000, star
    t0 = time.time()
    out = minhash_dedup(docs, cfg)
    assignments = materialize(out["assignments"], "stress_assign")
    n_docs = assignments.count()
    wall = time.time() - t0
    edges = materialize(out["edges"], "stress_edges")
    n_edges = edges.count()
    n_clusters = assignments.select("cluster_id").distinct().count()
    from pyspark.sql import functions as F
    largest = (assignments.groupBy("cluster_id").count()
               .agg(F.max("count")).collect()[0][0])

    hot_lines = [l for l in cap.lines if "hot" in l.lower() or "cap" in l.lower()]
    cc_lines = [l for l in cap.lines if "converged" in l]
    cc_iters = None
    for l in cc_lines:
        m = re.search(r"converged in (\d+)", l)
        if m:
            cc_iters = int(m.group(1))

    # spot check: distributed CC == driver union-find on the same edge set
    from rabbittclust_spark.operators.components import connected_components
    t0 = time.time()
    dist_cc = materialize(
        connected_components(edges, driver_cutoff=0), "cc_dist")
    cc_dist_s = time.time() - t0
    t0 = time.time()
    drv_cc = materialize(
        connected_components(edges, driver_cutoff=2**62), "cc_drv")
    cc_drv_s = time.time() - t0
    mismatches = (dist_cc.withColumnRenamed("cluster_id", "a")
                  .join(drv_cc.withColumnRenamed("cluster_id", "b"),
                        "doc_id", "full")
                  .where("a IS DISTINCT FROM b").count())

    res = {
        "generated_docs": n_gen,
        "gen_sec": round(gen_s, 1) if gen_s is not None else None,
        "clustered_docs": n_docs,
        "wall_sec": round(wall, 1),
        "docs_per_sec": round(n_docs / wall, 1),
        "edges": n_edges,
        "clusters": n_clusters,
        "cc_iterations": cc_iters,
        "cc_distributed_sec": round(cc_dist_s, 1),
        "cc_driver_sec": round(cc_drv_s, 1),
        "cc_mismatches": mismatches,
        "hot_cluster_size": args.hot,
        "largest_cluster": int(largest),
        "hot_key_log": hot_lines[:10],
    }
    print(json.dumps(res))

    md = f"""# BENCH/SCALE — ~1M-doc stress run (default config)

Generated by `tools/scale_stress.py` ({time.strftime('%Y-%m-%d %H:%M')} UTC,
local[32], shuffle_partitions=128, driver 24g).

Corpus: {args.clusters} near-dup clusters x {args.members} members +
{args.clusters * 2} singletons + {args.clusters // 4} short docs + a
**{args.hot}-doc hot-boilerplate cluster** (deliberately ABOVE the default
max_posting=2000, so the skew path fires on a real run);
{args.min_tokens}-{args.max_tokens} tokens/doc over a {args.vocab}-token
vocabulary (scale-realistic cross-doc shingle density — see --vocab help);
{n_gen} docs generated.

Config: `PipelineConfig()` **defaults** — probe mode, max_posting=2000,
hot_hash_mode=star, exact pre-dedup.

| metric | value |
|---|---|
| docs clustered (>= min_len) | {n_docs} |
| end-to-end wall | {wall:.1f} s |
| throughput | **{n_docs / wall:.0f} docs/s** |
| edges (dist <= 0.05) | {n_edges} |
| clusters | {n_clusters} |
| largest cluster | {largest} (hot cluster = {args.hot} mutual near-dups: fully recovered through the cap iff largest >= {args.hot}) |
| CC path | {'distributed large-star/small-star, ' + str(cc_iters) + ' iterations' if cc_iters else 'driver union-find (edges under cutoff)'} |
| CC spot check | distributed ({cc_dist_s:.1f} s) vs driver union-find ({cc_drv_s:.1f} s): **{mismatches} mismatches** |

Hot-key escalation log (operator-emitted, no silent caps):

```
{chr(10).join(hot_lines[:6]) if hot_lines else '(no postings above the cap this run)'}
```
"""
    md += _HISTORY_MD
    with open(os.path.join(ROOT, "BENCH", "SCALE.md"), "w") as f:
        f.write(md)
    spark.stop()


if __name__ == "__main__":
    main()
