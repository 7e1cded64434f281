"""SparkSession factory.

The reference holds one psycopg2 singleton connection
(/root/reference/project/db.py:15-19) and delegates all planning to
Postgres. Here the analogous shared resource is one SparkSession with
Catalyst/AQE doing the planning.

Scale posture (100 TB target, tested on local[32]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast selection replace any hand-scheduling.
- shuffle partitions default to cores on local mode; on a real cluster
  this would be ~2-3x total executor cores (or left to AQE's
  coalescing with a high initial value).
- UTC session timezone so epoch/timestamp semantics match the oracle.
- Arrow enabled for the pandas_udf paths (ML scoring, multimodal).
- Streaming checkpoints on a local master go through Spark's
  FileSystem-based checkpoint manager. Spark's default manager renames
  through Hadoop's FileContext, and on the local filesystem without
  libhadoop every such rename forks a `readlink` process, once for the
  file and once for its `.crc`; that fork, not compute, was most of a
  micro-batch's commit time. `FileSystem.rename` on the local
  filesystem is an atomic, overwriting POSIX rename, the guarantee the
  default manager's OVERWRITE rename gives. File checksums and Hadoop's
  CRC files are unchanged. A cluster master keeps Spark's default:
  its checkpoints live on HDFS or object stores, where FileContext is
  the right choice.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Spark's own manager for schemes without a FileContext; see "Scale posture".
LOCAL_CHECKPOINT_MANAGER = (
    "spark.sql.streaming.checkpointFileManagerClass",
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
)


def _master_conf(master: str) -> list[tuple[str, str]]:
    """Conf that depends on where the session runs: a local master
    (``local``, ``local[n]``, ``local-cluster[...]``) checkpoints to
    the local filesystem."""
    return [LOCAL_CHECKPOINT_MANAGER] if master.startswith("local") else []


def _shuffle_partitions(cpus: int) -> int:
    """Initial shuffle-partition count, scale-parameterized (r13,
    guide §2.2/§2.5): NOT a constant tuned for one deployment.

    - local bench (this sandbox): defaults to the core count — the
      measured optimum for sub-GB shuffles (more initial partitions
      only add scheduling overhead once AQE coalesces them back), and
      the value every prior round's driver bench used, so numbers stay
      comparable.
    - production: set SPARK_GRAFT_SHUFFLE_PARTITIONS to ~2-3x total
      executor cores (or higher and let AQE's coalescing find the
      real count — spark.sql.adaptive.coalescePartitions is on). At
      100 TB the rule of thumb is shuffled-bytes / 128-512 MB initial
      partitions; AQE's advisoryPartitionSizeInBytes then governs the
      coalesced size."""
    return int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))


def get_spark(
    app_name: str = "machine-telemetry-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or _shuffle_partitions(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _master_conf(master):
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session
    (the driver passes its own SparkSession to ``entry``/``queries``)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.shuffle.partitions", str(_shuffle_partitions(cpus))),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        *_master_conf(spark.sparkContext.master),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session; keep going
    return spark
