"""Structured Streaming ingest: readStream -> foreachBatch(append_batch).

The reference's incremental surface is batch --append (src/sub_command.cpp:
1286-1759); this wraps the same merge semantics (streaming/incremental.py)
in a Structured Streaming sink so a directory of arriving document files is
clustered continuously.

State lives under ``state_root`` in VERSIONED parquet directories with a
JSON pointer, ``STATE.json``: ``{"version": v, "batch_id": b,
"sketch_parts": ["v0/sketches", ..., "v<v>/sketches"]}``.

- Sketches are stored as parts, one per batch: the batch that makes version
  v writes its new docs' sketches ONCE, to ``v<v>/sketches``, and the pair
  build reads that part back.  Nothing older is rewritten; the pointer lists
  the live parts, and a load reads them together.
- Assignments are rewritten whole, to ``v<v>/assignments`` (every prior
  assignment takes part in the batch's connected components).
- The pointer flip is the only commit point, so a crash mid-batch never
  corrupts state: a replayed batch rewrites its own (still unlisted) part
  and the stream checkpoint replays it idempotently (same input -> same
  v+1 content).
- Compaction: every load opens every part's files, so once the live parts
  reach two per core (``2 * defaultParallelism``, at most Spark's
  parallel-listing threshold) the next batch writes all sketches as one
  part, ``v<v>/sketches`` (:func:`_compaction_bound`).
- Pruning keeps the current and the previous version whole, and of older
  versions only the sketch parts the current or previous pointer names.
- A pointer without ``sketch_parts`` (written before parts existed) names
  the single part ``v<v>/sketches``.

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
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.operators.sketch import _SKETCH_SCHEMA
from rabbittclust_spark.sources.tables import empty_frame, materialize_scope

_ASSIGN_SCHEMA = "doc_id long, cluster_id long"
_POINTER = "STATE.json"


def _compaction_bound(spark: SparkSession) -> int:
    """Live sketch parts at which the next batch writes them as one.

    A part holds about ``defaultParallelism`` files, and every load opens
    them all: on local[4] (4 vCPUs), an append over 31 parts took 0.39 s
    more than over one part holding the same docs, while a compacting
    append cost 0.78 s more than a part append.  Amortized over a cycle,
    about two parts per core is the cheapest bound (8 there); it never
    exceeds Spark's parallel-listing threshold, beyond which every load
    would list its paths in a distributed job."""
    listing = int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"))
    return min(2 * spark.sparkContext.defaultParallelism, listing)


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

    @staticmethod
    def _sketch_parts(ptr: dict) -> list[str]:
        """The live sketch parts a pointer names, relative to the root."""
        v = int(ptr.get("version", -1))
        if v < 0:
            return []
        return list(ptr.get("sketch_parts", [f"v{v}/sketches"]))

    def load_state(self) -> tuple[DataFrame, DataFrame]:
        ptr = self._pointer()
        v = int(ptr.get("version", -1))
        if v < 0:
            return (empty_frame(self.spark, _SKETCH_SCHEMA),
                    empty_frame(self.spark, _ASSIGN_SCHEMA))
        parts = [os.path.join(self.state_root, p)
                 for p in self._sketch_parts(ptr)]
        # the state is written with exactly these schemas; passing them
        # skips Spark's schema-inference job on every load
        return (self.spark.read.schema(_SKETCH_SCHEMA).parquet(*parts),
                self.spark.read.schema(_ASSIGN_SCHEMA)
                .parquet(os.path.join(self.state_root, f"v{v}", "assignments")))

    def assignments(self) -> DataFrame:
        return self.load_state()[1]

    def _write(self, df: DataFrame, rel: str) -> str:
        path = os.path.join(self.state_root, rel)
        df.write.mode("overwrite").parquet(path)
        return path

    def _write_part(self, rel: str, sketches: DataFrame) -> DataFrame:
        """Write a batch's sketches as the part ``rel``; read it back."""
        return self.spark.read.schema(_SKETCH_SCHEMA).parquet(
            self._write(sketches, rel))

    # ---------------------------------------------------------- batch logic
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from rabbittclust_spark.streaming.incremental import append_batch

        ptr = self._pointer()
        if int(batch_id) <= int(ptr.get("batch_id", -1)):
            # replay after a crash between the state-pointer flip and the
            # stream-checkpoint commit: the batch is already in the state —
            # re-applying it would duplicate every doc, so skip (idempotent)
            return
        v = int(ptr.get("version", -1)) + 1
        part = f"v{v}/sketches"
        parts = self._sketch_parts(ptr)
        compact = len(parts) >= _compaction_bound(self.spark)
        with materialize_scope():
            # this batch's temp-parquet barriers are deleted on scope exit —
            # the state writes below are the only consumers, so a
            # continuously running stream never accumulates /tmp dirs
            old_sk, old_assign = self.load_state()
            out = append_batch(
                old_sk, old_assign, batch_df, self.cfg,
                persist=None if compact else partial(self._write_part, part))
            if compact:
                self._write(out["sketches"], part)
            self._write(out["assignments"].select("doc_id", "cluster_id"),
                        f"v{v}/assignments")
        live = [part] if compact else parts + [part]
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": v, "batch_id": int(batch_id),
                       "sketch_parts": live}, f)
        os.replace(tmp, self._pointer_path())
        self._prune(keep_from=v - 1, live=set(live) | set(parts))

    def _prune(self, keep_from: int, live: set[str]) -> None:
        """Drop state versions older than ``keep_from`` (one crash-safety
        predecessor is kept) except the sketch parts in ``live`` — a
        continuously running stream must not fill the disk."""
        for name in os.listdir(self.state_root):
            if not name.startswith("v"):
                continue
            try:
                ver = int(name[1:])
            except ValueError:
                continue
            if ver >= keep_from:
                continue
            d = os.path.join(self.state_root, name)
            kept = {os.path.basename(p) for p in live
                    if os.path.dirname(p) == name}
            if not kept:
                shutil.rmtree(d, ignore_errors=True)
                continue
            for child in os.listdir(d):
                if child not in kept:
                    shutil.rmtree(os.path.join(d, child), ignore_errors=True)


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
