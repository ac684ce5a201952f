"""SparkSession helpers tuned for this engine.

Defaults target correctness + scale habits: AQE on (runtime coalesce +
skew-join split), Arrow enabled for the pandas-UDF sketch stage, shuffle
partitions sized for the local harness but overridable for cluster runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "rabbittclust-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r9: the CC/LPA driver fast paths fetch their edge sets via ONE
        # limit(cutoff+1) collect.  CollectLimit's default staged execution
        # (1 partition, then 4x more per retry) turns that into up to
        # log4(P) mini-jobs on a P-partition barrier; starting at 128
        # partitions makes the common case a single job while huge inputs
        # still stage up (local limits bound what each task ships).
        .config("spark.sql.limit.initialNumPartitions", "128")
        # r9 (guide §6): stage barriers are written as temp parquet many
        # times per query — commit files during task commit (v2) instead of
        # a sequential driver-side rename pass, and skip _SUCCESS markers
        # nothing reads.  Standard practice for non-object-store filesystems.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
