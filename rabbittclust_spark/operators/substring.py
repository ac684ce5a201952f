"""Exact-substring duplicate detection via winnowing fingerprints.

Pipeline shape mirrors the other signature families: sketch (mapInPandas)
-> explode fingerprints -> pairs.posting_pairs (the shared posting
self-join, counting shape) -> per-pair shared count -> containment score ->
threshold -> edges -> (optionally) connected components.  The
shared-fingerprint lower bound guarantees recall 1.0 for exact shared
substrings of length >= window + k - 1 (functions/winnowing.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.functions.winnowing import winnow_fingerprints


def sketch_winnow(df: DataFrame, cfg: PipelineConfig, window: int = 50,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, len, n_fp, fp array<long>) winnowing fingerprints."""
    k, seed, lower = cfg.shingle_k, cfg.hash_seed, cfg.lowercase

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens, ns, fps = [], [], []
            for t in pdf["text"].tolist():
                t = t if isinstance(t, str) else ""
                if lower:
                    t = t.lower()
                fp = winnow_fingerprints(t, k=k, window=window, seed=seed)
                lens.append(len(t))
                ns.append(len(fp))
                fps.append(fp.view(np.int64).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                                "len": lens, "n_fp": ns, "fp": fps})

    from rabbittclust_spark.operators.sketch import _text_kernel

    return _text_kernel(df, cfg, id_col, text_col, compute,
                        "doc_id long, len long, n_fp int, fp array<long>")


def substring_pairs(fp_sketches: DataFrame, cfg: PipelineConfig,
                    min_shared: int = 2, min_containment: float = 0.5
                    ) -> DataFrame:
    """(src, dst, shared, containment): pairs sharing exact substrings.

    containment = shared / min(n_fp) — fraction of the shorter document's
    fingerprints covered (1.0 for a verbatim prefix/slice copy).
    """
    from rabbittclust_spark.operators.pairs import posting_pairs
    from rabbittclust_spark.sources.tables import materialize

    # r9: spread the barrier read-back before the explode so the posting
    # self-join doesn't inherit a 1-2 file scan (see pairs.pair_counts_probe)
    from rabbittclust_spark.operators.sketch import _spread_for_cpu_kernel
    postings = _spread_for_cpu_kernel(fp_sketches).select(
        "doc_id", F.explode("fp").alias("h"))
    # counting shape: hot fingerprints drop with logged counts, like index
    # mode; the per-doc fingerprint counts join back for the containment
    sizes = fp_sketches.select("doc_id", "n_fp")
    pairs = (
        posting_pairs(postings, "h", cfg, "substring", star=False)
        .where(F.col("common") >= min_shared)
        .join(sizes.toDF("src", "n1"), "src")
        .join(sizes.toDF("dst", "n2"), "dst")
        .select("src", "dst", "n1", "n2", F.col("common").alias("shared"))
    )
    # r9: wide measured slightly better for the md5-winnow oracle twin
    # (4.40 vs 4.59 s) but worse for the production rolling-hash path
    # (2.58 vs 2.31 s) — production wins the tie-break
    pairs = materialize(pairs, "substr_pairs")
    return (pairs.withColumn(
        "containment",
        F.round(F.col("shared") / F.least("n1", "n2").cast("double"), 6))
        .where(F.col("containment") >= min_containment)
        .select("src", "dst", "shared", "containment"))


def substring_dedup(docs: DataFrame, cfg: PipelineConfig, window: int = 50,
                    min_containment: float = 0.5,
                    id_col: str = "doc_id", text_col: str = "text",
                    sketch_df: DataFrame | None = None) -> DataFrame:
    """Exact-substring dedup assignments: docs whose fingerprint containment
    >= min_containment are grouped (doc_id, cluster_id, is_rep).

    ``sketch_df`` swaps in a precomputed (doc_id, len, n_fp, fp
    array<long>) fingerprint table for the default rolling-hash winnowing
    kernel (``window`` is then unused) — the posting-join/cap/containment/
    CC path is fingerprint-agnostic, which is what lets the driver oracle
    run this exact operator over SQL-expressible md5-token winnowing
    fingerprints (the sketch_df recipe of minhash_dedup/simhash_edges)
    while production keeps the rolling hash."""
    from rabbittclust_spark.operators.components import connected_components
    from rabbittclust_spark.operators.postprocess import assignments_from_components
    from rabbittclust_spark.sources.tables import materialize

    fp = materialize(sketch_df if sketch_df is not None
                     else sketch_winnow(docs, cfg, window=window,
                                        id_col=id_col, text_col=text_col),
                     "winnow")
    pairs = substring_pairs(fp, cfg, min_containment=min_containment)
    membership = connected_components(pairs)
    return assignments_from_components(fp.select("doc_id"), membership)
