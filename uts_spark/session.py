"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configuration is what we'd set cluster-side for a 1000-executor job, minus
the master. Key choices:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  essential at 100 TB where static partition counts are always wrong.
- UTC session timezone — the testdata parquet carries naive timestamps; a
  fixed zone makes Spark and the DuckDB oracle agree bit-for-bit.
- Arrow enabled — every pandas interchange (the few places we drop to
  ``applyInPandas``) goes through Arrow batches, not pickled rows.
- FileSystem-based streaming checkpoints on local masters. Spark's
  default manager goes through Hadoop ``FileContext``, which without the
  native Hadoop library forks a ``readlink`` process for every rename
  and status call on a ``file:`` path — hundreds of forks per stateful
  replay (offset/commit logs, state-store deltas and their checksums).
  A local master only ever checkpoints to ``file:``, where
  ``FileSystem.rename`` is POSIX ``rename(2)``: atomic and replacing,
  the same guarantee ``FileContext`` gives. Cluster masters (and
  sessions the driver hands us, see :func:`configure_session`) keep the
  default, because on HDFS only ``FileContext`` renames atomically over
  an existing file.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "uts-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master == "local" or master.startswith("local["):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            _FS_CHECKPOINT_MANAGER,
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session we did not create (the
    driver hands us one). Only dynamic confs — never restarts the JVM."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
