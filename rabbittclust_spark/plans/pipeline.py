"""DedupPipeline: the persistent, resumable form of operators/dedup.py.

Replaces the reference's binary state folders (sketch/MST/RepDB files,
src/Sketch_IO.cpp, src/MST_IO.cpp, src/greedy.cpp:1545-2957) with one table
per stage under an output root (parquet here; the identical layout maps to
Iceberg tables on a cluster — `df.writeTo(ns.table).createOrReplace()`):

    <root>/extracted      url/doc_id, text            (html -> text UDF)
    <root>/exact_groups   doc_id, canonical_id        (exact pre-collapse)
    <root>/sketches       doc_id, len, n, sig
    <root>/edges          src, dst, dist
    <root>/membership     doc_id, cluster_id
    <root>/assignments    doc_id, cluster_id, is_rep
    <root>/dedup_groups   doc_id, cluster_id, dup_group, rep_id, is_dup_rep
    <root>/communities    doc_id, community     (LPA over the edges pregraph)
    <root>/metrics        one JSON row per stage run (<manifest_id>.json)

Each stage directory carries a `_manifest.json` recording the config hash,
input manifest ids, row count, per-partition row counts (the north rule's
per-partition lineage), and wall time.  ``run(resume=True)`` skips any stage
whose manifest matches the current config and upstream lineage — the
reference's --presketched/--premsted resume surface
(src/main.cpp:616-641), generalized to every stage.  Manifests are gated on
PER-STAGE config fingerprints (PipelineConfig.stage_hash): a new -d reuses
sketches, a new community resolution reuses edges (the reference's pregraph
reload, src/leiden.cpp:474-746) — only stages whose own knobs changed rerun.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.operators.components import connected_components
from rabbittclust_spark.operators.dedup import exact_dedup
from rabbittclust_spark.operators.extract import with_extracted_text
from rabbittclust_spark.operators.pairs import build_edges
from rabbittclust_spark.operators.postprocess import (
    assignments_from_components,
    dedup_medoid_collapse,
    k_reps_per_cluster,
)
from rabbittclust_spark.operators.sketch import sketch_minhash, sketch_minhash_bands

_MANIFEST = "_manifest.json"
_METRICS_SCHEMA = (
    "manifest_id string, stage string, run_id string, config_hash string, "
    "rows long, partitions int, wall_sec double, created_unix double, "
    "partition_rows_json string")


class DedupPipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig, out_root: str):
        self.spark = spark
        self.cfg = cfg
        self.out_root = out_root
        self.run_id = uuid.uuid4().hex[:12]
        os.makedirs(out_root, exist_ok=True)

    # ---------------------------------------------------------------- stages
    def run(self, docs: DataFrame, resume: bool = True,
            html_col: str | None = None, id_col: str = "doc_id",
            text_col: str = "text") -> dict[str, DataFrame]:
        """Execute all stages; returns {stage: DataFrame (parquet-backed)}."""
        from rabbittclust_spark.sources.tables import validate_input_schema

        # file-format gate analog (src/SketchInfo.cpp:555-562): fail fast on
        # a wrong input schema instead of mid-job
        validate_input_schema(
            docs,
            {id_col: "any",
             (html_col if html_col is not None else text_col):
                 ("binary" if html_col is not None else "string")},
            table="webtext")
        out: dict[str, DataFrame] = {}

        # fingerprint the INPUT data (row count + content hash sum) so
        # resume=True never returns stale stage outputs after the source
        # dataset changed — root-stage manifests would otherwise match on
        # config hash alone.
        # hash the content column AS-IS (xxhash64 accepts binary): casting
        # binary html to string would be a lossy UTF-8 reinterpretation —
        # two different payloads with invalid byte sequences could
        # fingerprint identically and serve stale stage outputs on resume
        content_col = html_col if html_col is not None else text_col
        fp_row = docs.agg(
            F.count("*").alias("c"),
            F.coalesce(
                F.sum(F.xxhash64(F.col(id_col).cast("string"),
                                 F.col(content_col))
                      .cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        input_fp = {"__docs__": f"{int(fp_row['c'])}:{int(fp_row['s'])}"}

        if html_col is not None:
            out["extracted"] = self._stage(
                "extracted", [],
                lambda: with_extracted_text(
                    docs.select(F.col(id_col).cast("long").alias("doc_id"),
                                F.col(html_col).alias("html")),
                    html_col="html", out_col="text"),
                resume, extra_inputs=input_fp)
            base = out["extracted"].select("doc_id", "text")
        else:
            base = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                               F.col(text_col).alias("text"))

        deps = ["extracted"] if html_col is not None else []
        out["exact_groups"] = self._stage(
            "exact_groups", deps, lambda: exact_dedup(base), resume,
            extra_inputs=input_fp)

        def _sketches():
            canon = base.join(
                out["exact_groups"].where(F.col("doc_id") == F.col("canonical_id"))
                .select("doc_id"), "doc_id") if self.cfg.exact_prededup else base
            if self.cfg.pair_mode == "banded":
                # fused single-pass sketch: the stage table carries band_keys
                # alongside the bottom-s sig so _edges never re-shingles
                return sketch_minhash_bands(canon, self.cfg)
            return sketch_minhash(canon, self.cfg)

        out["sketches"] = self._stage("sketches", deps + ["exact_groups"],
                                      _sketches, resume, extra_inputs=input_fp)

        def _edges():
            bands = None
            if self.cfg.pair_mode == "banded":
                bands = out["sketches"].select("doc_id", "band_keys")
            return build_edges(
                out["sketches"].select("doc_id", "len", "n", "sig"),
                self.cfg, bands=bands)

        out["edges"] = self._stage("edges", ["sketches"], _edges, resume,
                                   extra_inputs=input_fp)

        out["membership"] = self._stage(
            "membership", ["edges"],
            lambda: connected_components(out["edges"]), resume)

        def _assignments():
            canon_assign = assignments_from_components(
                out["sketches"].select("doc_id"), out["membership"])
            return (
                out["exact_groups"]
                .join(canon_assign.withColumnRenamed("doc_id", "canonical_id"),
                      "canonical_id")
                .select("doc_id", "cluster_id",
                        (F.col("doc_id") == F.col("cluster_id")).alias("is_rep"))
            )

        out["assignments"] = self._stage(
            "assignments", ["membership", "exact_groups", "sketches"],
            _assignments, resume)

        if self.cfg.dedup_dist is not None:
            out["dedup_groups"] = self._stage(
                "dedup_groups", ["assignments", "edges", "sketches"],
                lambda: dedup_medoid_collapse(
                    out["assignments"], out["edges"],
                    out["sketches"].select("doc_id", "len"),
                    self.cfg.dedup_dist),
                resume)
        if self.cfg.reps_per_cluster > 1:
            # --reps-per-cluster: k diverse reps via farthest-point selection
            # (src/cluster_postprocess.cpp:184-327)
            out["reps"] = self._stage(
                "reps", ["assignments", "edges"],
                lambda: k_reps_per_cluster(out["assignments"], out["edges"],
                                           self.cfg.reps_per_cluster),
                resume)
        if self.cfg.community_resolution is not None:
            # pregraph surface (src/leiden.cpp:474-746): the persisted edges
            # stage IS the weighted similarity graph — re-running at a new
            # resolution/knn recomputes ONLY this stage (stage_hash scopes
            # the knobs to "communities"; "edges" doesn't read them)
            def _communities():
                from rabbittclust_spark.operators.leiden import (
                    community_multilevel,
                    label_propagation,
                )

                if self.cfg.community_levels > 1:
                    # Louvain coarsening (src/leiden.cpp:295-471): one-level
                    # LPA under-merges on large graphs; each extra level is
                    # a groupBy-coarsening + LPA on a much smaller graph
                    comm = community_multilevel(
                        out["edges"],
                        resolution=self.cfg.community_resolution,
                        max_iter=self.cfg.community_max_iter,
                        max_levels=self.cfg.community_levels,
                        knn=self.cfg.community_knn)
                else:
                    comm = label_propagation(
                        out["edges"], resolution=self.cfg.community_resolution,
                        max_iter=self.cfg.community_max_iter,
                        knn=self.cfg.community_knn)
                canon = assignments_from_components(
                    out["sketches"].select("doc_id"),
                    comm.withColumnRenamed("community", "cluster_id"))
                return (out["exact_groups"]
                        .join(canon.withColumnRenamed("doc_id", "canonical_id"),
                              "canonical_id")
                        .select("doc_id",
                                F.col("cluster_id").alias("community")))

            out["communities"] = self._stage(
                "communities", ["edges", "exact_groups", "sketches"],
                _communities, resume)
        return out

    # ------------------------------------------------------------- machinery
    def _path(self, stage: str) -> str:
        return os.path.join(self.out_root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._path(stage), _MANIFEST)

    def _read_manifest(self, stage: str) -> dict | None:
        try:
            with open(self._manifest_path(stage)) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def _input_ids(self, deps: list[str]) -> dict[str, str]:
        ids = {}
        for d in deps:
            m = self._read_manifest(d)
            ids[d] = m["manifest_id"] if m else "missing"
        return ids

    def _stage(self, stage: str, deps: list[str], compute, resume: bool,
               extra_inputs: dict[str, str] | None = None) -> DataFrame:
        path = self._path(stage)
        input_ids = self._input_ids(deps)
        if extra_inputs:
            input_ids = {**input_ids, **extra_inputs}
        m = self._read_manifest(stage)
        if (resume and m is not None
                and m.get("config_hash") == self.cfg.stage_hash(stage)
                and m.get("inputs") == input_ids):
            return self.spark.read.parquet(path)

        t0 = time.time()
        df = compute()
        df.write.mode("overwrite").parquet(path)
        wall = time.time() - t0
        result = self.spark.read.parquet(path)
        # per-partition lineage: row count per output partition
        part_rows = [
            [int(r["pid"]), int(r["rows"])]
            for r in result.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("rows")).collect()
        ]
        manifest = {
            "manifest_id": uuid.uuid4().hex[:12],
            "stage": stage,
            "run_id": self.run_id,
            "config_hash": self.cfg.stage_hash(stage),
            "config": self.cfg.to_dict(),
            "inputs": input_ids,
            "rows": int(sum(r for _, r in part_rows)),
            "partitions": len(part_rows),
            "partition_rows": part_rows,
            "wall_sec": round(wall, 3),
            "created_unix": time.time(),
        }
        with open(self._manifest_path(stage), "w") as f:
            json.dump(manifest, f)
        # the stage-run history: one driver-written JSON row per run, so it
        # survives the next run's overwrite of the stage's manifest
        row = {k: manifest[k] for k in
               ("manifest_id", "stage", "run_id", "config_hash", "rows",
                "partitions", "wall_sec", "created_unix")}
        row["partition_rows_json"] = json.dumps(part_rows)
        metrics_dir = os.path.join(self.out_root, "metrics")
        os.makedirs(metrics_dir, exist_ok=True)
        with open(os.path.join(metrics_dir,
                               f"{manifest['manifest_id']}.json"), "w") as f:
            json.dump(row, f)
        return result

    def metrics(self) -> DataFrame:
        """One row per stage run, across runs and resumes of this root."""
        return (self.spark.read.schema(_METRICS_SCHEMA)
                .option("pathGlobFilter", "*.json")
                .json(os.path.join(self.out_root, "metrics")))
