"""Testdata / stage-table IO helpers.

The driver's parquet tables live at /root/testdata/sf*/ (TESTDATA.md).
Stage tables are written as parquet directories with an Iceberg-ready layout
(one directory per stage under the pipeline output root); on a real cluster
these become `writeTo(...).createOrReplace()` Iceberg tables — the layout and
schemas are identical.
"""

from __future__ import annotations

import atexit
import contextlib
import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def validate_input_schema(df: DataFrame, required: dict[str, str],
                          table: str = "input") -> None:
    """File-format gate analog (reference accepts only .fasta/.fna/.fa,
    src/SketchInfo.cpp:555-562): reject inputs whose schema lacks the
    required columns or carries incompatible types, with a readable error
    instead of a mid-job analysis exception.

    ``required`` maps column name -> simple type name prefix (e.g.
    {"text": "string", "doc_id": "bigint"}).  Pass "any" to check presence
    only.
    """
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems = []
    for col, want in required.items():
        if col not in actual:
            problems.append(f"missing column {col!r} (want {want})")
        elif want != "any" and not actual[col].startswith(want):
            problems.append(f"column {col!r} has type {actual[col]} (want {want})")
    if problems:
        raise ValueError(
            f"{table} schema invalid: " + "; ".join(problems)
            + f"; actual schema: {actual}")


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """An empty frame of ``schema`` that runs no Python task.

    ``createDataFrame([], schema)`` alone is a pickled-row RDD: every stage
    that scans it (or a union with it) starts Python workers for no rows.
    Behind ``limit(0)`` Catalyst folds it to an empty local relation and
    prunes it out of unions and joins."""
    return spark.createDataFrame([], schema).limit(0)


_MATERIALIZE_DIRS: list[str] = []


def cleanup_materialized() -> None:
    """Delete every temp-parquet dir created by :func:`materialize`.

    Runs automatically at interpreter exit; long-lived drivers (e.g. the
    streaming ingest sink) call it explicitly at safe points — ONLY when no
    previously-materialized DataFrame will be read again (their backing
    files are removed)."""
    import shutil

    for d in _MATERIALIZE_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _MATERIALIZE_DIRS.clear()


atexit.register(cleanup_materialized)


@contextlib.contextmanager
def materialize_scope():
    """Context manager: temp-parquet dirs created by :func:`materialize`
    INSIDE the scope are deleted on exit.  For long-lived drivers (e.g. the
    streaming sink's per-batch work) at points where no frame materialized
    inside the scope will be read again; dirs created before the scope are
    untouched."""
    import shutil

    mark = len(_MATERIALIZE_DIRS)
    try:
        yield
    finally:
        for d in _MATERIALIZE_DIRS[mark:]:
            shutil.rmtree(d, ignore_errors=True)
        del _MATERIALIZE_DIRS[mark:]


def materialize(df: DataFrame, name: str = "stage",
                wide: bool = False) -> DataFrame:
    """Materialize a DataFrame once via a temp-parquet round-trip.

    Preferred over localCheckpoint/cache for composed plans: the write runs
    as a normal AQE job (observed: localCheckpoint executes the plan with
    AQE finalization disabled, degrading skew-handled joins), and downstream
    consumers re-read columnar parquet with full pushdown.  This is the
    in-memory twin of the pipeline's persistent stage tables.

    ``wide=True`` (r9, guide §2.2/§2.5) drops AQE's 1 MB partition-coalesce
    floor for THIS write job only: stages whose per-row compute explodes
    relative to their input bytes (candidate self-joins, array_intersect
    verify joins) are otherwise coalesced to 1-2 post-shuffle partitions
    and run serial even on a 32-core host.  Scoped here rather than
    session-wide because a global 1-byte floor costs every tiny stage
    ~32-task overhead (measured net-negative on the flagship); at cluster
    scale the floor is moot either way (bytes/parallelism dominates), so
    this only changes small-input behavior.

    Temp dirs are tracked and removed at interpreter exit so long-lived
    drivers don't leak /tmp disk across repeated pair-generation calls.
    """
    import tempfile

    d = tempfile.mkdtemp(prefix=f"rtc_{name}_")
    _MATERIALIZE_DIRS.append(d)
    path = os.path.join(d, "data")
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    conf = df.sparkSession.conf
    old = conf.get(key, None) if wide else None
    if wide:
        conf.set(key, "1b")
    try:
        df.write.mode("overwrite").parquet(path)
    finally:
        if wide:
            if old is None:
                conf.unset(key)
            else:
                conf.set(key, old)
    # read back with the writer's schema: without it Spark runs a one-task
    # schema-inference job over the files just written
    return df.sparkSession.read.schema(df.schema).parquet(path)
