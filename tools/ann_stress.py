"""ANN top-k scale check: IVF-flat vs sparse-SRP LSH at 101k vectors.

VERDICT r4 item #4: put ivf_topk under the same scale evidence as the
SRP-LSH path.  Generates the same corpus shape as the r3/r4 near-dup
stress (99k random Gaussian 64-d vectors + 1000 planted near-dup pairs,
cos ~0.999), picks 200 queries (half planted, half random), computes exact
top-1 ground truth with one numpy matmul on the driver, then times
`ivf_topk` (pure defaults: nlist ~ sqrt(N), nprobe=4) and `lsh_topk`
(pure defaults: auto planes, multiprobe=2) on local[32] and reports wall +
top-1 recall for each.  Appends a results section to BENCH/SCALE.md when
run with --write.

Usage: python tools/ann_stress.py [--n 100000] [--planted 1000] [--write]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np

CORPUS_DIR = os.path.join(ROOT, ".out", "ann_stress_corpus")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=100_000)
    ap.add_argument("--planted", type=int, default=1000)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--queries", type=int, default=200)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--write", action="store_true",
                    help="append the results section to BENCH/SCALE.md")
    args = ap.parse_args()

    rng = np.random.default_rng(42)
    base = rng.standard_normal((args.n, args.dim)).astype(np.float32)
    dups = (base[: args.planted]
            + 0.01 * rng.standard_normal((args.planted, args.dim))
            ).astype(np.float32)
    vecs = np.vstack([base, dups])  # ids: 0..n-1 base, n..n+planted-1 dups
    n_total = len(vecs)

    # queries: half planted-dup ids (their top-1 is the planted twin, the
    # regime ANN must not miss), half random base ids (realistic workload)
    q_ids = np.concatenate([
        np.arange(args.n, args.n + args.queries // 2),
        rng.choice(args.n // 2, size=args.queries // 2, replace=False),
    ]).astype(np.int64)

    # exact ground truth: one (queries x corpus) matmul on normalized rows
    norm = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    sims = norm[q_ids] @ norm.T
    sims[np.arange(len(q_ids)), q_ids] = -np.inf  # self excluded
    truth_top1 = sims.argmax(axis=1)

    from pyspark.sql import functions as F

    from rabbittclust_spark.operators.ann import ivf_topk, lsh_topk
    from rabbittclust_spark.session import get_spark

    spark = get_spark("ann-stress", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    import pandas as pd

    pdf = pd.DataFrame({"vec_id": np.arange(n_total, dtype=np.int64),
                        "embedding": list(vecs)})
    spark.createDataFrame(pdf).repartition(32).write.mode("overwrite") \
        .parquet(CORPUS_DIR)
    corpus = spark.read.parquet(CORPUS_DIR)
    queries = corpus.where(F.col("vec_id").isin([int(i) for i in q_ids]))
    corpus.count()  # warm the scan

    half = args.queries // 2

    def top1_recall(rows) -> dict:
        # split by regime: planted queries have a cos~0.999 true neighbor
        # (the regime dedup/similarity search exists for); random queries'
        # true top-1 is another random vector at cos~0.5 — the regime
        # where sublinear ANN recall is known to degrade (no locality)
        got = {r.query_id: r.neighbor_id for r in rows if r.rank == 1}
        hits = [got.get(int(qi)) == int(ti)
                for qi, ti in zip(q_ids, truth_top1)]
        return {"top1_recall": sum(hits) / len(hits),
                "top1_recall_planted": sum(hits[:half]) / half,
                "top1_recall_random": sum(hits[half:]) / half}

    results = {}
    for name, fn in [
        ("ivf_topk", lambda: ivf_topk(corpus, queries, k=args.k)),
        ("lsh_topk", lambda: lsh_topk(corpus, queries, k=args.k,
                                      dim=args.dim)),
    ]:
        t0 = time.time()
        rows = fn().collect()
        wall = round(time.time() - t0, 1)
        results[name] = {"wall_s": wall, "rows": len(rows),
                         **top1_recall(rows)}
    spark.stop()

    out = {"n_vectors": n_total, "dim": args.dim, "n_queries": len(q_ids),
           "k": args.k, **results}
    print(json.dumps(out))

    if args.write:
        md = f"""
## ANN top-k scale check (101k vectors, 64-d) — r5: IVF-flat vs SRP-LSH

Same corpus shape as the near-dup stress above (99k random + 1000 planted
cos~0.999 pairs), 200 queries (100 planted + 100 random), k={args.k},
top-1 recall vs an exact numpy ground truth, local[32], PURE DEFAULTS for
both paths:

| path | wall | top-1 recall (planted / random) | shape at scale |
|---|---|---|---|
| `ivf_topk` (nlist=sqrt(N)={int(np.sqrt(n_total))}, nprobe=4) | {results['ivf_topk']['wall_s']} s | {results['ivf_topk']['top1_recall_planted']:.2f} / {results['ivf_topk']['top1_recall_random']:.2f} | centroid assign = narrow mapInPandas; probe = equi-join on list_id |
| `lsh_topk` (auto planes, multiprobe=2) | {results['lsh_topk']['wall_s']} s | {results['lsh_topk']['top1_recall_planted']:.2f} / {results['lsh_topk']['top1_recall_random']:.2f} | bucket join on sparse-SRP keys, capped |

The planted column is the dedup/similarity regime (a cos~0.999 true
neighbor) — the recall that matters; the random column is nearest-among-
noise (true top-1 at cos~0.5), where sublinear ANN recall is expected to
degrade for both families.  Both scale paths hold at 101k under their
default signatures; the driver contract oracle-checks `ivf_topk`
end-to-end at a fixed literal quantizer (__spark_entry__._sql_ivf_topk).
"""
        with open(os.path.join(ROOT, "BENCH", "SCALE.md"), "a") as f:
            f.write(md)


if __name__ == "__main__":
    main()
