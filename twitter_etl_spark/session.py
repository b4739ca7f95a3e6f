"""SparkSession factory.

Scale posture (100 TB design, tested on local[32]):

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast selection replace hand-tuning.
- ``spark.sql.session.timeZone=UTC`` pinned so timestamp semantics
  match the DuckDB oracle and are cluster-invariant.
- Arrow enabled for the (rare) pandas-UDF paths — every hot-path
  operator in this engine is a built-in column expression that stays
  inside whole-stage codegen.
- Shuffle partition default sized for local test scale; on a real
  cluster AQE coalesces from a high initial number, so we set the
  initial partitions via env rather than hardcoding cluster numbers.
- Stream checkpoints on a ``file:`` default filesystem use Spark's
  FileSystem-API checkpoint manager (see :func:`get_spark`). Offset,
  commit and state files keep their no-overwrite commit on both
  ``file:`` and ``hdfs:``; only the local-disk bookkeeping gets
  cheaper. Other default filesystems keep Spark's choice.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

#: the checkpoint manager :func:`get_spark` picks on a ``file:`` default
#: filesystem (Spark 4.1 class name)
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(app_name: str = "twitter-etl-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    When the session's Hadoop default filesystem is ``file:``, stream
    checkpoints use :data:`LOCAL_CHECKPOINT_MANAGER`. Spark's default
    manager renames every offset, commit, source-log and state file
    through Hadoop's ``FileContext``; on ``LocalFs`` that rename runs
    ``getFileLinkStatus`` on both paths, and without native libhadoop
    each call forks a ``readlink`` process (about 25 per micro-batch).
    The FileSystem manager renames with ``FileSystem.rename`` instead.
    The commit contract is the same: both managers check that the
    destination does not exist and then rename (on ``file:``, POSIX
    ``rename(2)``), so a second ``createAtomic(p, overwriteIfPossible=
    False)`` fails and ``p`` keeps its first bytes. On ``hdfs:`` the
    rename itself refuses an existing destination, so a checkpoint
    there stays no-overwrite too. Checkpoints written under the
    default manager resume unchanged: the on-disk layout is the same.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # no `\r[Stage N: ...]` bars on the console: they share a
        # terminal line with whatever the caller prints next
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/tmp/twitter_etl_spark_warehouse")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    if default_fs.startswith("file:"):
        spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", LOCAL_CHECKPOINT_MANAGER)
    return spark


def ship_package_to_executors(spark: SparkSession) -> None:
    """Make ``twitter_etl_spark`` importable on executors.

    cloudpickle serializes pandas-UDF / mapInPandas closures by
    *reference* to this package, so worker processes must be able to
    import it — true on a cluster via ``--py-files``, and true
    locally only if the driver's cwd happens to be the repo root.
    Shipping a package zip with ``addPyFile`` removes that
    assumption. Idempotent per session.
    """
    if getattr(spark, "_tes_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(), "twitter_etl_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                arc = os.path.join(
                    "twitter_etl_spark", os.path.relpath(full, pkg_dir)
                )
                z.write(full, arc)
    spark.sparkContext.addPyFile(zpath)
    spark._tes_pkg_shipped = True


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable config to an externally
    provided session (the driver hands us one in ``entry``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    except Exception:
        pass  # static conf on some deployments; AQE default-on in Spark 4
    return spark
