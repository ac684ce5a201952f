"""NMI + purity/coverage evaluation tool (tools/evaluate.py) — analog of
the reference's evaluation suite (benchmark/evaluation/getNMI.py:24-29 =
sklearn normalized_mutual_info_score; benchmark/evaluation/src/
calPurity.cpp:195-232 purity + coverage)."""

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.evaluate import evaluate_assignments, nmi, purity, truth_labels


def test_nmi_identical_and_relabeled():
    a = [0, 0, 1, 1, 2, 2, 2]
    assert nmi(a, a) == pytest.approx(1.0)
    # label NAMES don't matter, only the partition
    assert nmi(a, [9, 9, 4, 4, 7, 7, 7]) == pytest.approx(1.0)


def test_nmi_known_value():
    # hand-computed (and sklearn-verified formula): true=[0,0,1,1],
    # pred=[0,0,1,2] -> MI = ln2, H_true = ln2, H_pred = 1.5*ln2 - not
    # quite: H_pred = -(.5ln.5 + .25ln.25*2) = 1.0397; NMI = 0.8
    assert nmi([0, 0, 1, 1], [0, 0, 1, 2]) == pytest.approx(0.8, abs=1e-9)


def test_nmi_degenerate_cases():
    # both single-cluster: defined as 1.0 (sklearn convention)
    assert nmi([5, 5, 5], [1, 1, 1]) == pytest.approx(1.0)
    # one side single, other side informative: MI = 0 -> NMI = 0
    assert nmi([1, 1, 1, 1], [0, 1, 2, 3]) == pytest.approx(0.0)
    # independent coin flips over a 2x2 balanced table: MI = 0
    assert nmi([0, 0, 1, 1], [0, 1, 0, 1]) == pytest.approx(0.0)


def test_purity_hand_example():
    # pred cluster 0 = {a,a} pure; cluster 1 = {a,b} dominant a ->
    # purity (2+1)/4, every item in a >1-member cluster -> coverage 1
    out = purity([0, 0, 1, 1], ["a", "a", "a", "b"])
    assert out["purity"] == pytest.approx(0.75)
    assert out["coverage"] == pytest.approx(1.0)
    assert out["n_clusters"] == 2
    assert out["min_cluster_purity"] == pytest.approx(0.5)
    # singletons: pure but uncovered (calPurity counts only >1 clusters
    # into the coverage numerator)
    out = purity([0, 1, 2, 3], ["a", "a", "b", "b"])
    assert out["purity"] == pytest.approx(1.0)
    assert out["coverage"] == pytest.approx(0.0)


def test_truth_labels_junk_singletons():
    t = truth_labels(np.array([10, 11, 12, 13]), np.array([3, -1, 3, -1]))
    assert t[0] == t[2] == 3
    # each junk doc its own class, disjoint from real ids
    assert t[1] != t[3] and t[1] > 3 and t[3] > 3


def test_evaluate_clean_separation_nmi_is_one(spark):
    """The verdict's gate: at clean separation (well-separated planted
    clusters, no threshold-straddling mutation rates) the production
    flagship recovers the planted partition exactly -> NMI = purity =
    coverage-of-clustered = 1.0."""
    import random

    import pandas as pd

    from rabbittclust_spark.config import PipelineConfig
    from rabbittclust_spark.operators.dedup import minhash_dedup

    rng = random.Random(42)
    words = [f"w{i:04d}" for i in range(3000)]
    rows = []
    doc_id = 0
    for c in range(12):  # 12 clusters x 4 near-identical members
        base = [rng.choice(words) for _ in range(250)]
        for m in range(4):
            toks = list(base)
            r2 = random.Random(c * 100 + m)
            for _ in range(2):  # ~0.8% mutation, far inside the threshold
                toks[r2.randrange(len(toks))] = r2.choice(words)
            rows.append((doc_id, " ".join(toks), c))
            doc_id += 1
    for s in range(15):  # singletons, each its own truth class
        r3 = random.Random(9000 + s)
        rows.append((doc_id, " ".join(r3.choice(words) for _ in range(250)),
                     100 + s))
        doc_id += 1
    docs = spark.createDataFrame([(i, t) for i, t, _ in rows],
                                 "doc_id long, text string")
    cfg = PipelineConfig(min_len=10, pair_mode="probe")
    assign = (minhash_dedup(docs, cfg)["assignments"]
              .select("doc_id", "cluster_id").toPandas())
    truth = pd.DataFrame({"doc_id": [i for i, _, _ in rows],
                          "truth_cluster": [c for _, _, c in rows]})
    out = evaluate_assignments(assign, truth)
    assert out["nmi"] == pytest.approx(1.0)
    assert out["purity"] == pytest.approx(1.0)
    assert out["min_cluster_purity"] == pytest.approx(1.0)
    assert out["n"] == len(rows)
    # coverage = clustered fraction = 48 of 63 docs
    assert out["coverage"] == pytest.approx(48 / 63, abs=1e-6)
