"""Sketching operators: text -> signature columns via Arrow-batched pandas.

Replaces the reference's producer/consumer + OpenMP sketching loop
(src/SketchInfo.cpp:994-1252 sketchFileWithKssd, 865-992 sketchFiles) with
``mapInPandas`` over the document DataFrame: Spark's partitioned scan is the
producer, Arrow batches are the chunk pool, and the numpy kernels in
functions/ are the consumer.  Zero per-row Python — every batch is hashed with
vectorized uint64 arithmetic.

Hash values are uint64 bit patterns stored in Spark LongType (int64 view);
equality joins and array_intersect are bit-pattern-exact, and the "bottom-s
smallest" selection happens in numpy *before* the signed view, so the signed
reinterpretation never affects semantics.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.functions.minhash import (
    bottom_s_sketch,
    containment_sketch_size,
    frac_minhash_sketch,
    kperm_signature,
    band_hashes,
)
from rabbittclust_spark.functions.simhash import simhash64

_SKETCH_SCHEMA = "doc_id long, len long, n int, sig array<long>"


def _as_long_list(arr: np.ndarray) -> list[int]:
    return arr.view(np.int64).tolist()


def sketch_minhash(df: DataFrame, cfg: PipelineConfig,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Bottom-s MinHash sketches: (doc_id, len, n=|sketch|, sig array<long>).

    Applies the min-length filter first (reference: -m minLen,
    src/SketchInfo.cpp:963,1210) so short docs never reach the hash kernel.
    In containment mode the sketch size is len/contain_compress (min 100),
    per src/SketchInfo.cpp:703-707.
    """
    k, s, seed, lower = cfg.shingle_k, cfg.sketch_size, cfg.hash_seed, cfg.lowercase
    containment, ccomp, minsz = cfg.containment, cfg.contain_compress, cfg.min_sketch_size

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            texts = pdf["text"].tolist()
            lens, ns, sigs = [], [], []
            for t in texts:
                t = t if isinstance(t, str) else ""
                if containment:
                    size = containment_sketch_size(len(t), ccomp, minsz)
                else:
                    size = s
                sig = bottom_s_sketch(t, k, size, seed=seed, lowercase=lower)
                lens.append(len(t))
                ns.append(len(sig))
                sigs.append(_as_long_list(sig))
            yield pd.DataFrame({"doc_id": ids, "len": lens, "n": ns, "sig": sigs})

    return _text_kernel(df, cfg, id_col, text_col, compute, _SKETCH_SCHEMA)


def sketch_fracminhash(df: DataFrame, cfg: PipelineConfig,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """FracMinHash sketches (KSSD analog, src/SketchInfo.cpp:274-433):
    variable-size sketch = all distinct shingle hashes below 2^64/frac_scale.
    Supports containment distance (reference --fast path)."""
    k, scale, seed, lower = cfg.shingle_k, cfg.frac_scale, cfg.hash_seed, cfg.lowercase

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            lens, ns, sigs = [], [], []
            for t in pdf["text"].tolist():
                t = t if isinstance(t, str) else ""
                sig = frac_minhash_sketch(t, k, scale, seed=seed, lowercase=lower)
                lens.append(len(t))
                ns.append(len(sig))
                sigs.append(_as_long_list(sig))
            yield pd.DataFrame({"doc_id": ids, "len": lens, "n": ns, "sig": sigs})

    return _text_kernel(df, cfg, id_col, text_col, compute, _SKETCH_SCHEMA)


def sketch_simhash(df: DataFrame, cfg: PipelineConfig,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash fingerprints: (doc_id, len, simhash long)."""
    k, seed, lower = cfg.shingle_k, cfg.hash_seed, cfg.lowercase

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sh = [np.int64(np.uint64(simhash64(t if isinstance(t, str) else "",
                                               k, seed=seed, lowercase=lower)))
                  for t in pdf["text"].tolist()]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "len": pdf["text"].str.len().fillna(0).astype("int64").to_numpy(),
                "simhash": np.array(sh, dtype=np.int64),
            })

    return _text_kernel(df, cfg, id_col, text_col, compute,
                        "doc_id long, len long, simhash long")


def sketch_bands(df: DataFrame, cfg: PipelineConfig,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Banded-LSH keys from a k-permutation signature (scale path):
    (doc_id, band_keys array<long>) — one key per band."""
    k, p, r = cfg.shingle_k, cfg.perm_count, cfg.rows_per_band
    pseed, hseed, lower = cfg.perm_seed, cfg.hash_seed, cfg.lowercase

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys = []
            for t in pdf["text"].tolist():
                sig = kperm_signature(t if isinstance(t, str) else "", k, p,
                                      perm_seed=pseed, hash_seed=hseed, lowercase=lower)
                keys.append(_as_long_list(band_hashes(sig, r)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(), "band_keys": keys})

    return _text_kernel(df, cfg, id_col, text_col, compute,
                        "doc_id long, band_keys array<long>")


def sketch_minhash_bands(df: DataFrame, cfg: PipelineConfig,
                         id_col: str = "doc_id", text_col: str = "text"
                         ) -> DataFrame:
    """Fused banded-mode sketch: ONE text/shingling pass emitting both the
    bottom-s sketch and the banded-LSH keys —
    (doc_id, len, n, sig array<long>, band_keys array<long>).

    Banded mode previously ran :func:`sketch_minhash` and
    :func:`sketch_bands` as two separate mapInPandas passes, re-shingling
    every document twice; sharing the shingle-hash array halves the
    sketch-stage cost.  Bit-identical to the two separate operators
    (tests/test_minhash.py::test_fused_banded_sketch_parity).
    """
    from rabbittclust_spark.functions.hashing import shingle_hashes
    from rabbittclust_spark.functions.minhash import kperm_signature_from_hashes

    k, s, seed, lower = cfg.shingle_k, cfg.sketch_size, cfg.hash_seed, cfg.lowercase
    containment, ccomp, minsz = cfg.containment, cfg.contain_compress, cfg.min_sketch_size
    p, r, pseed = cfg.perm_count, cfg.rows_per_band, cfg.perm_seed

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens, ns, sigs, keys = [], [], [], []
            for t in pdf["text"].tolist():
                t = t if isinstance(t, str) else ""
                h = shingle_hashes(t, k, seed=seed, lowercase=lower)
                size = (containment_sketch_size(len(t), ccomp, minsz)
                        if containment else s)
                sig = h[:size] if len(h) > size else h  # sorted => bottom-s
                ksig = kperm_signature_from_hashes(h, p, pseed)
                lens.append(len(t))
                ns.append(len(sig))
                sigs.append(_as_long_list(sig))
                keys.append(_as_long_list(band_hashes(ksig, r)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                                "len": lens, "n": ns, "sig": sigs,
                                "band_keys": keys})

    return _text_kernel(df, cfg, id_col, text_col, compute,
                        _SKETCH_SCHEMA + ", band_keys array<long>")


def _text_kernel(df: DataFrame, cfg: PipelineConfig, id_col: str,
                 text_col: str, compute, schema: str) -> DataFrame:
    """Run a per-batch text kernel over the (doc_id, text) projection of
    ``df``: drop docs shorter than ``cfg.min_len`` (reference -m minLen,
    src/SketchInfo.cpp:963,1210) before the kernel, spread the rows over the
    cores, then ``mapInPandas(compute, schema)``."""
    prepared = (
        df.select(F.col(id_col).cast("long").alias("doc_id"),
                  F.col(text_col).alias("text"))
        .filter(F.length(F.col("text")) >= cfg.min_len)
    )
    return _spread_for_cpu_kernel(prepared).mapInPandas(compute, schema=schema)


def _spread_for_cpu_kernel(prepared: DataFrame) -> DataFrame:
    """Fan a narrow (doc_id, text) projection out to defaultParallelism
    when the file scan cannot: mapInPandas inherits SCAN partitioning, so a
    single small parquet file runs a CPU-bound kernel on one core.
    ``inputFiles()`` is plan metadata (no job, no RDD conversion); an
    in-memory test frame reports zero files and is also spread.  Scans
    already fanned out over >= parallelism files (the 100 TB case) pass
    through untouched — no shuffle."""
    spark = prepared.sparkSession
    target = int(spark.sparkContext.defaultParallelism)
    try:
        n_files = len(prepared.inputFiles())
    except Exception:
        n_files = 0
    return prepared.repartition(target) if n_files < target else prepared


def sketch_wminhash(df: DataFrame, cfg: PipelineConfig, num_samples: int = 128,
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Weighted MinHash (ICWS) signatures over shingle COUNTS — the
    reference's Sketch::WMinHash alternative (src/SketchInfo.cpp:130-141,
    240-255): (doc_id, len, n=num_samples, sig array<long> positional keys).

    sig[p] values collide across documents with probability = weighted
    Jaccard, so positional agreement / num_samples estimates it
    (tests/test_minhash.py asserts the estimator CI vs the exact
    functions.minhash.weighted_jaccard).

    ICWS is the most CPU-intense sketch kernel (~1 ms/doc vectorized, ~10x
    the bottom-s rolling hash), so scan parallelism is load-bearing: a
    small single-file input gives mapInPandas ONE partition and the stage
    runs serial (measured 54 s for 5k docs at r8 before this fix).  When
    the scan fans out over fewer files than cores, the narrow projected
    input is repartitioned to defaultParallelism first — for this kernel
    the one-time text redistribution (~30 s of ICWS per serial MB) is
    orders cheaper than serial compute; a 100 TB scan over thousands of
    file splits skips the shuffle entirely."""
    from rabbittclust_spark.functions.minhash import icws_signature, shingle_hash_counts

    k, seed, lower = cfg.shingle_k, cfg.hash_seed, cfg.lowercase

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens, sigs = [], []
            for t in pdf["text"].tolist():
                t = t if isinstance(t, str) else ""
                h, w = shingle_hash_counts(t, k, seed=seed, lowercase=lower)
                sigs.append(_as_long_list(icws_signature(h, w, num_samples,
                                                         seed=seed)))
                lens.append(len(t))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                                "len": lens,
                                "n": [num_samples] * len(lens),
                                "sig": sigs})

    return _text_kernel(df, cfg, id_col, text_col, compute, _SKETCH_SCHEMA)
