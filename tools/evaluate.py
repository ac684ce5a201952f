"""Cluster-quality evaluation: NMI + purity/coverage of assignments vs
planted ground-truth labels (VERDICT r7 task #3).

Analog of the reference's evaluation suite:
- NMI mirrors /root/reference/benchmark/evaluation/getNMI.py:24-29, which
  is sklearn.metrics.normalized_mutual_info_score with its default
  arithmetic-mean normalizer.  sklearn is not in this container, so the
  same quantity is computed here in numpy from the (sparse) contingency
  table: NMI = MI(a,b) / max(eps, (H(a)+H(b))/2), natural log, with the
  degenerate both-sides-single-cluster case defined as 1.0 exactly as
  sklearn defines it.
- Purity and coverage mirror /root/reference/benchmark/evaluation/src/
  calPurity.cpp:195-232: per predicted cluster the dominant ground-truth
  label's member count; total purity = sum(dominant)/sum(total); coverage
  = the fraction of items sitting in non-singleton predicted clusters.

Ground-truth convention: the webtext fixture marks junk "short" docs with
truth_cluster = -1 (no planted cluster).  Each such doc is its own
singleton truth class here — lumping all of them into one fake class would
penalize a clustering for CORRECTLY keeping unrelated junk apart.

CLI (one JSON line, like bench.py):
    python tools/evaluate.py [corpus_dir] [--cpus N]
runs the production flagship (HTML extract -> MinHash sketch -> probe
candidate pairs -> Mash edges -> connected components -> assignments) over
a fixture corpus parquet carrying truth columns (default: the scaling
matrix's 2x corpus at .out/bench_corpus) and evaluates it.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _codes(labels) -> np.ndarray:
    """Dense 0..k-1 integer codes for an arbitrary label array."""
    return np.unique(np.asarray(labels), return_inverse=True)[1]


def _pair_counts(a: np.ndarray, b: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sparse contingency: (counts, a-code, b-code) per nonzero cell.
    O(n log n), no dense (n_a x n_b) matrix — the bench corpus has ~10^5
    predicted clusters (singletons), a dense table would be 10^10 cells."""
    nb = int(b.max()) + 1 if b.size else 1
    pair = a.astype(np.int64) * nb + b.astype(np.int64)
    uniq, cnt = np.unique(pair, return_counts=True)
    return cnt.astype(np.float64), uniq // nb, uniq % nb


def nmi(labels_a, labels_b) -> float:
    """Normalized mutual information, sklearn-compatible (arithmetic mean
    normalizer, natural log; both-single-cluster degenerate case = 1.0)."""
    a, b = _codes(labels_a), _codes(labels_b)
    if a.size == 0 or (a.max() == 0 and b.max() == 0):
        return 1.0
    n = float(a.size)
    nij, ai, bi = _pair_counts(a, b)
    na = np.bincount(a).astype(np.float64)
    nb = np.bincount(b).astype(np.float64)
    pij = nij / n
    mi = float(np.sum(pij * (np.log(nij) + np.log(n)
                             - np.log(na[ai]) - np.log(nb[bi]))))
    pa, pb = na / n, nb / n
    ha = -float(np.sum(pa * np.log(pa)))
    hb = -float(np.sum(pb * np.log(pb)))
    norm = max((ha + hb) / 2.0, float(np.finfo(np.float64).eps))
    return max(mi, 0.0) / norm


def purity(pred, truth) -> dict:
    """calPurity.cpp semantics over (predicted cluster, truth label) pairs:
    total purity = sum over predicted clusters of the dominant truth
    label's count / n; coverage = fraction of items in predicted clusters
    with more than one member.  Returns the totals plus the per-cluster
    dominant fractions for the detail report."""
    p, t = _codes(pred), _codes(truth)
    n = int(p.size)
    if n == 0:
        return {"purity": 1.0, "coverage": 0.0, "n": 0,
                "n_clusters": 0, "min_cluster_purity": 1.0}
    nij, pi, _ = _pair_counts(p, t)
    dominant = np.zeros(int(p.max()) + 1)
    np.maximum.at(dominant, pi, nij)
    total = np.bincount(p).astype(np.float64)
    return {
        "purity": round(float(dominant.sum()) / n, 6),
        "coverage": round(float(total[total > 1].sum()) / n, 6),
        "n": n,
        "n_clusters": int(total.size),
        "min_cluster_purity": round(float((dominant / total).min()), 6),
    }


def truth_labels(doc_ids: np.ndarray, truth_cluster: np.ndarray) -> np.ndarray:
    """Planted labels with the -1 (junk/short) convention resolved: each
    unlabeled doc becomes its own singleton truth class."""
    t = truth_cluster.astype(np.int64).copy()
    junk = t < 0
    # offset past every real cluster id; doc_id keeps it unique + stable
    t[junk] = int(t.max()) + 1 + doc_ids[junk].astype(np.int64)
    return t


def evaluate_assignments(assign_pdf, truth_pdf) -> dict:
    """Join assignments (doc_id, cluster_id) to truth (doc_id,
    truth_cluster) and compute NMI + purity/coverage."""
    import pandas as pd

    m = pd.merge(assign_pdf[["doc_id", "cluster_id"]],
                 truth_pdf[["doc_id", "truth_cluster"]],
                 on="doc_id", how="inner")
    t = truth_labels(m["doc_id"].to_numpy(), m["truth_cluster"].to_numpy())
    p = m["cluster_id"].to_numpy()
    out = purity(p, t)
    out["nmi"] = round(nmi(p, t), 6)
    out["n_truth_clusters"] = int(np.unique(t).size)
    return out


def evaluate_corpus(corpus: str, cpus: int = 32) -> dict:
    """Run the production flagship over a fixture corpus parquet (truth
    columns included) and score it — the callable the scaling matrix uses
    to put an NMI/purity line in BENCH/BASELINE.md."""
    from rabbittclust_spark.config import PipelineConfig
    from rabbittclust_spark.operators.dedup import minhash_dedup
    from rabbittclust_spark.operators.extract import with_extracted_text
    from rabbittclust_spark.session import get_spark
    from rabbittclust_spark.sources.tables import materialize, materialize_scope

    spark = get_spark("evaluate", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus * 2, 16))
    spark.sparkContext.setLogLevel("ERROR")
    cfg = PipelineConfig(pair_mode="probe")  # the scaling matrix's config
    docs = spark.read.parquet(corpus)
    truth_pdf = docs.select("doc_id", "truth_cluster").toPandas()
    with materialize_scope():
        extracted = materialize(
            with_extracted_text(docs.select("doc_id", "html")), "extracted")
        assign_pdf = (minhash_dedup(extracted, cfg)["assignments"]
                      .select("doc_id", "cluster_id").toPandas())
    spark.stop()
    out = evaluate_assignments(assign_pdf, truth_pdf)
    out["corpus"] = corpus
    return out


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith(
        "--") else str(Path(__file__).resolve().parents[1] / ".out" / "bench_corpus")
    cpus = 32
    for i, a in enumerate(sys.argv):
        if a == "--cpus":
            cpus = int(sys.argv[i + 1])
    print(json.dumps(evaluate_corpus(corpus, cpus)))


if __name__ == "__main__":
    main()
