"""Structured Streaming ingest: readStream -> foreachBatch(append_batch).

The reference's incremental surface is batch --append (src/sub_command.cpp:
1286-1759); this wraps the same merge semantics (streaming/incremental.py)
in a Structured Streaming sink so a directory of arriving document files is
clustered continuously.  State (sketches + assignments) lives in VERSIONED
parquet directories under ``state_root`` with a JSON pointer — each batch
reads version v, writes v+1, then atomically updates the pointer, so a
mid-batch crash never corrupts state and the stream checkpoint replays the
batch idempotently (same input -> same v+1 content).

``state_root`` and ``checkpoint_dir`` are a PAIR: the replay guard compares
Structured Streaming's per-checkpoint monotonic batch_id with the one
recorded in the state pointer.  Deleting the checkpoint while keeping the
state (or vice versa) desynchronizes them — a fresh checkpoint restarts
batch ids at 0, which the guard would treat as already-applied replays.
Reset both together, or neither.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.operators.sketch import _SKETCH_SCHEMA

_ASSIGN_SCHEMA = "doc_id long, cluster_id long"
_POINTER = "STATE.json"


class StreamingDedup:
    """foreachBatch sink maintaining the incremental dedup state."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig,
                 state_root: str):
        self.spark = spark
        self.cfg = cfg
        self.state_root = state_root
        self.query = None  # StreamingQuery handle, set by stream_ingest
        os.makedirs(state_root, exist_ok=True)

    # ------------------------------------------------------------- state IO
    def _pointer_path(self) -> str:
        return os.path.join(self.state_root, _POINTER)

    def _pointer(self) -> dict:
        try:
            with open(self._pointer_path()) as f:
                return json.load(f)
        except (OSError, ValueError, json.JSONDecodeError):
            return {"version": -1, "batch_id": -1}

    def _current_version(self) -> int:
        try:
            return int(self._pointer()["version"])
        except (KeyError, ValueError):
            return -1

    def load_state(self) -> tuple[DataFrame, DataFrame]:
        v = self._current_version()
        if v < 0:
            return (self.spark.createDataFrame([], _SKETCH_SCHEMA),
                    self.spark.createDataFrame([], _ASSIGN_SCHEMA))
        base = os.path.join(self.state_root, f"v{v}")
        # the state is written with exactly these schemas; passing them
        # skips Spark's schema-inference job on every load
        return (self.spark.read.schema(_SKETCH_SCHEMA)
                .parquet(os.path.join(base, "sketches")),
                self.spark.read.schema(_ASSIGN_SCHEMA)
                .parquet(os.path.join(base, "assignments")))

    def assignments(self) -> DataFrame:
        return self.load_state()[1]

    # ---------------------------------------------------------- batch logic
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from rabbittclust_spark.streaming.incremental import append_batch

        ptr = self._pointer()
        if int(batch_id) <= int(ptr.get("batch_id", -1)):
            # replay after a crash between the state-pointer flip and the
            # stream-checkpoint commit: the batch is already in the state —
            # re-applying it would duplicate every doc, so skip (idempotent)
            return
        from rabbittclust_spark.sources.tables import materialize_scope

        with materialize_scope():
            # this batch's temp-parquet barriers are deleted on scope exit —
            # the state writes below are the only consumers, so a
            # continuously running stream never accumulates /tmp dirs
            old_sk, old_assign = self.load_state()
            out = append_batch(old_sk, old_assign, batch_df, self.cfg)
            v = self._current_version() + 1
            base = os.path.join(self.state_root, f"v{v}")
            out["sketches"].write.mode("overwrite").parquet(
                os.path.join(base, "sketches"))
            out["assignments"].select("doc_id", "cluster_id").write.mode(
                "overwrite").parquet(os.path.join(base, "assignments"))
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": v, "batch_id": int(batch_id)}, f)
        os.replace(tmp, self._pointer_path())
        self._prune(keep_from=v - 1)

    def _prune(self, keep_from: int) -> None:
        """Drop state versions older than ``keep_from`` (one crash-safety
        predecessor is kept) — a continuously running stream must not fill
        the disk."""
        import shutil

        for name in os.listdir(self.state_root):
            if name.startswith("v"):
                try:
                    ver = int(name[1:])
                except ValueError:
                    continue
                if ver < keep_from:
                    shutil.rmtree(os.path.join(self.state_root, name),
                                  ignore_errors=True)


def stream_ingest(spark: SparkSession, cfg: PipelineConfig, input_dir: str,
                  state_root: str, checkpoint_dir: str,
                  schema: str = "doc_id long, text string",
                  available_now: bool = True) -> StreamingDedup:
    """Start (and with available_now=True, drain) a file-stream ingest:
    every parquet file arriving in ``input_dir`` is a micro-batch appended to
    the dedup state.  Returns the StreamingDedup handle for state reads."""
    sink = StreamingDedup(spark, cfg, state_root)
    reader = spark.readStream.schema(schema).parquet(input_dir)
    writer = (reader.writeStream
              .foreachBatch(sink.process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
    sink.query = q  # caller can stop()/awaitTermination()/exception()
    return sink
