"""Sinks: append table, create-if-absent DDL, optional JDBC.

Reference semantics being re-expressed:

- ``load_tweets`` (``main.R:113-121``): append a dataframe to the
  sink table, skipping entirely when the input is NULL/empty
  (``main.R:75-78, 114``). At-least-once: no upsert, duplicates
  across batches are kept (SURVEY.md §1.3).
- ``setup_database`` (``main.R:17-42``): create the fixed-schema
  sink table; never clobber an existing one (collision-safe rename,
  ``main.R:20-24``).

Spark-native: parquet directory sinks with ``mode("append")``;
create-if-absent maps to ``errorifexists`` semantics / an existence
check; JDBC is a thin optional adapter (the reference's RSQLite
write-through, ``main.R:26, 117``).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Spark equivalent of the reference sink DDL (``main.R:27-39``):
#: timestamps stay TimestampType (UTC) instead of epoch ints;
#: tweet_id is a synthetic load surrogate (``main.R:30``).
TWEET_DATA_SCHEMA = T.StructType(
    [
        T.StructField("tweet_id", T.LongType()),
        T.StructField("date_created", T.TimestampType()),
        T.StructField("user", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("quoted_user", T.StringType()),
        T.StructField("quoted_content", T.StringType()),
    ]
)


def append_table(df: DataFrame | None, path: str) -> bool:
    """Append ``df`` to the parquet table at ``path``.

    Returns False (no write) on the reference's empty-input guard
    (``main.R:75-78, 114``): NULL input or zero rows. The guard uses
    ``isEmpty()`` (a limit-1 job), not ``count()``.
    """
    if df is None or df.isEmpty():
        return False
    df.write.mode("append").parquet(path)
    return True


def create_table_if_absent(spark: SparkSession, path: str, schema: T.StructType = TWEET_DATA_SCHEMA) -> str:
    """DDL bootstrap: initialize an empty parquet table at ``path``
    if absent; if present, leave it untouched and return a
    timestamp-suffixed fresh path instead (collision-safe create,
    ``main.R:20-24``)."""
    if os.path.exists(path):
        path = f"{path}.{time.strftime('%Y%m%d_%H%M%S')}"
    spark.createDataFrame([], schema).write.mode("errorifexists").parquet(path)
    return path


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str = "ingest_date",
    mode: str = "append",
) -> None:
    """Date-partitioned sink layout (SURVEY.md §4.3.6): the landing /
    sink tables are partitioned by ingest date so downstream scans
    get partition pruning and retention is a directory drop. The
    caller supplies the partition column (e.g.
    ``F.to_date("ts").alias("ingest_date")``)."""
    df.write.mode(mode).partitionBy(partition_col).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed table layout (SURVEY.md §4.3.6): pre-shuffle the
    table once at write time so every later join/aggregation on
    ``bucket_col`` between co-bucketed tables runs WITHOUT an
    exchange — the capstone co-location technique for repeated
    fact-fact joins at 100 TB. (Bucketing requires ``saveAsTable``;
    the warehouse dir is pinned in ``session.get_spark``.)"""
    spark = df.sparkSession
    if mode == "overwrite":
        # with the in-memory catalog a stale location from a previous
        # session blocks CREATE even in overwrite mode — clear both
        import shutil

        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        shutil.rmtree(
            os.path.join(wh.removeprefix("file:"), table_name.lower()),
            ignore_errors=True,
        )
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def compact_table(spark: SparkSession, path: str, target_files: int = 1) -> int:
    """Small-file compaction for an append-heavy parquet table: the
    micro-batch loop produces one file set per batch; periodic
    compaction rewrites the table at ``target_files`` per directory.
    Returns the row count (sanity: compaction must not change it).

    Local-fs implementation. The compacted copy is written to a
    sibling directory on the SAME filesystem, then swapped in with
    two ``os.rename`` calls (old aside → new in → delete old), so
    the destructive step only happens after the replacement exists
    and a crash mid-swap leaves a recoverable directory — never a
    missing table. On a real deployment this is table-format
    territory (OPTIMIZE/rewrite with a transactional commit); the
    operator contract — same rows, fewer files — is what's tested.
    Note ``coalesce(1)`` serializes the rewrite into one task; at
    scale pass a larger ``target_files`` (repartition) instead.
    """
    import shutil

    df = spark.read.parquet(path)
    n = df.count()
    norm = path.rstrip("/")
    fresh = f"{norm}.compact.{os.getpid()}.{time.time_ns()}"
    old = f"{norm}.precompact.{os.getpid()}.{time.time_ns()}"
    # coalesce(1) serializes the rewrite into one task — only use it
    # when one output file is the explicit goal; multi-file targets
    # repartition so the rewrite itself is parallel
    sized = df.coalesce(1) if target_files == 1 else df.repartition(target_files)
    sized.write.mode("errorifexists").parquet(fresh)
    os.rename(norm, old)
    try:
        os.rename(fresh, norm)
    except OSError:
        os.rename(old, norm)  # roll back: the original table returns
        raise
    shutil.rmtree(old)
    return n


def compact_to_file_size(
    spark: SparkSession, path: str, target_file_bytes: int = 512 * 1024 * 1024
) -> int:
    """Size-targeted compaction: measure the table's on-disk parquet
    bytes, derive the file count that lands each output near
    ``target_file_bytes`` (the real knob at 100 TB — a fixed file
    COUNT goes stale as the table grows), and rewrite via
    :func:`compact_table`'s atomic swap. Returns the file count
    written. Compressed on-disk bytes are the right basis: the
    rewrite preserves encoding, so output files land near target
    regardless of the in-memory row width. No-op (returns current
    count) when every file is already within 2x of target — calling
    this from a scheduled maintenance job must not rewrite a healthy
    table."""
    total = 0
    n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n_files += 1
    if n_files == 0:
        raise FileNotFoundError(f"no parquet files under {path}")
    want = max(1, -(-total // target_file_bytes))  # ceil
    avg = total / n_files
    if want == n_files or target_file_bytes / 2 <= avg <= target_file_bytes * 2:
        return n_files
    compact_table(spark, path, target_files=int(want))
    return int(want)


def compact_sorted(
    spark: SparkSession, path: str, sort_col: str, target_files: int = 4
) -> int:
    """CLUSTERED compaction: rewrite the table range-partitioned AND
    sorted by ``sort_col``, so every parquet row group carries a
    TIGHT min/max for that column — the write-side half of data
    skipping. An append-heavy table interleaves key ranges across
    files, making footer statistics useless (every row group's
    min/max spans the whole domain, nothing is skippable); after
    this rewrite a predicate on ``sort_col`` prunes whole files via
    ``repartitionByRange`` layout and whole row groups via the
    min/max stats the pushed filter is checked against. This is the
    single-dimension core of OPTIMIZE ... ZORDER; at 100 TB run it
    per date-partition in the same maintenance slot as
    ``compact_table``. Same atomic sibling-swap; returns rowcount."""
    import shutil

    df = spark.read.parquet(path)
    n = df.count()
    norm = path.rstrip("/")
    fresh = f"{norm}.compact.{os.getpid()}.{time.time_ns()}"
    old = f"{norm}.precompact.{os.getpid()}.{time.time_ns()}"
    (
        df.repartitionByRange(target_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("errorifexists")
        .parquet(fresh)
    )
    os.rename(norm, old)
    try:
        os.rename(fresh, norm)
    except OSError:
        os.rename(old, norm)
        raise
    shutil.rmtree(old)
    return n


def _zvalue16(a, b):
    """64-bit Morton (Z-order) interleave of two 16-bit int columns —
    pure bit arithmetic, codegen'd, no UDF."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(16):
        z = z + F.shiftleft(
            F.shiftright(a, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1
        ) + F.shiftleft(
            F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i
        )
    return z


def compact_zorder(
    spark: SparkSession,
    path: str,
    col_a: str,
    col_b: str,
    target_files: int = 16,
) -> int:
    """TWO-dimensional clustered compaction (OPTIMIZE ... ZORDER):
    each row's two keys are min/max-scaled to 16 bits (one 1-row
    stats broadcast), bit-interleaved into a Morton z-value, and the
    table is rewritten range-partitioned + sorted by that z-value.
    Z-order's locality guarantee: with N files, each row group's
    min/max span per dimension shrinks to ~1/sqrt(N) of the domain —
    BOTH columns become skippable from footer statistics, where a
    single-column sort (:func:`compact_sorted`) helps only its own
    column and an append-interleaved table helps neither
    (footer-verified in tests). Same atomic sibling swap; the
    z-value is a transient sort key, not written."""
    import shutil

    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    n = df.count()
    stats = df.agg(
        F.min(col_a).alias("a_min"),
        F.max(col_a).alias("a_max"),
        F.min(col_b).alias("b_min"),
        F.max(col_b).alias("b_max"),
    )

    def scale(c, lo, hi):
        rng = F.greatest(F.col(hi) - F.col(lo), F.lit(1))
        return (
            (F.col(c) - F.col(lo)) * 65535.0 / rng
        ).cast("int")

    with_z = (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "__z",
            _zvalue16(scale(col_a, "a_min", "a_max"), scale(col_b, "b_min", "b_max")),
        )
        .drop("a_min", "a_max", "b_min", "b_max")
    )
    norm = path.rstrip("/")
    fresh = f"{norm}.compact.{os.getpid()}.{time.time_ns()}"
    old = f"{norm}.precompact.{os.getpid()}.{time.time_ns()}"
    (
        with_z.repartitionByRange(target_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("errorifexists")
        .parquet(fresh)
    )
    os.rename(norm, old)
    try:
        os.rename(fresh, norm)
    except OSError:
        os.rename(old, norm)
        raise
    shutil.rmtree(old)
    return n


def drop_partitions_older_than(
    path: str, cutoff_date: str, partition_col: str = "ingest_date"
) -> list[str]:
    """Retention for a date-partitioned table: delete partition
    directories strictly older than ``cutoff_date`` (ISO
    ``YYYY-MM-DD``). This is the payoff of date-partitioned layout
    (SCALE.md): retention is a metadata-level directory drop — no
    scan, no rewrite, no tombstones — O(#partitions) regardless of
    table bytes. Returns the dropped partition values.

    Hive-style layout assumed (``{partition_col}={value}/``). On
    object stores the rm becomes a prefix delete; table formats do
    the same thing transactionally.
    """
    import shutil

    dropped = []
    prefix = f"{partition_col}="
    if not os.path.isdir(path):
        return dropped
    for name in sorted(os.listdir(path)):
        if not name.startswith(prefix):
            continue
        value = name[len(prefix):]
        if value < cutoff_date:  # ISO dates order lexicographically
            shutil.rmtree(os.path.join(path, name))
            dropped.append(value)
    return dropped


def latest_version(table_dir: str) -> int | None:
    """The version the ``_LATEST`` pointer names, or None before the
    first :func:`publish_version`."""
    try:
        with open(os.path.join(table_dir, "_LATEST")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def batch_hwm(table_dir: str, version: int | None = None) -> int:
    """The stream batch-id high-water mark stamped with a published
    version (``_LATEST`` by default), or -1 when none was stamped.
    Resolves the pointer first, so the mark read is consistent with
    the snapshot a concurrent reader sees."""
    if version is None:
        version = latest_version(table_dir)
    try:
        with open(os.path.join(table_dir, f"_BATCH_HWM_v={version}")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return -1


def _versions(table_dir: str) -> list[int]:
    return [int(p.split("=")[1]) for p in os.listdir(table_dir) if p.startswith("v=")]


def publish_version(
    df: DataFrame, table_dir: str, batch_id: int | None = None
) -> int:
    """Atomic snapshot publish on plain parquet: write the full new
    snapshot to an immutable ``v=N`` directory, then flip a
    ``_LATEST`` pointer file with ``os.replace`` (atomic on POSIX).
    Readers resolve the pointer first, so they see either the old or
    the new snapshot in full — never a half-written directory (the
    failure mode ADVICE flagged in the in-place compaction swap).
    Old versions stay readable (time travel) until explicitly
    dropped; this is the pointer-flip core of what table formats'
    commit protocols do. Returns the published version number.

    A stream's ``batch_id`` is stamped as ``_BATCH_HWM_v=N`` (the
    larger of it and the current mark) BEFORE the flip, so the flip
    stays the single commit point: a crash before it leaves the old
    pointer and the old mark, and the replayed batch is absorbed
    again into a fresh version. Single writer per ``table_dir``."""
    os.makedirs(table_dir, exist_ok=True)
    nxt = max(_versions(table_dir), default=0) + 1
    df.write.mode("errorifexists").parquet(os.path.join(table_dir, f"v={nxt}"))
    if batch_id is not None:
        with open(os.path.join(table_dir, f"_BATCH_HWM_v={nxt}"), "w") as f:
            f.write(str(max(batch_id, batch_hwm(table_dir))))
    tmp = os.path.join(table_dir, "_LATEST.tmp")
    with open(tmp, "w") as f:
        f.write(str(nxt))
    os.replace(tmp, os.path.join(table_dir, "_LATEST"))
    return nxt


def read_version(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read a published snapshot: the ``_LATEST`` pointer by
    default, or any retained ``v=N`` for time travel. A caller that
    knows the snapshot's ``schema`` passes it, which skips the footer
    read (and its job) of schema inference."""
    if version is None:
        version = latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(os.path.join(table_dir, "_LATEST"))
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.join(table_dir, f"v={version}"))


def vacuum_versions(table_dir: str, keep: int = 2) -> list[int]:
    """Retention for :func:`publish_version` snapshots: delete all
    but the newest ``keep`` versions, NEVER touching the one
    ``_LATEST`` points at (a reader that resolved the pointer before
    the vacuum must still find its directory — the same grace
    contract table-format VACUUMs honor). Returns the dropped
    version numbers. Storage for a 100 TB published table is
    keep × snapshot bytes; without a vacuum the time-travel tail
    grows without bound, so this is part of the operating procedure
    like ``compact_table``."""
    import shutil

    versions = sorted(_versions(table_dir))
    keep_set = set(versions[-keep:]) | {latest_version(table_dir)}
    dropped = []
    for v in versions:
        if v not in keep_set:
            shutil.rmtree(os.path.join(table_dir, f"v={v}"))
            dropped.append(v)
    return dropped


def export_training_shards(
    df: DataFrame, path: str, key_col: str, n_shards: int = 8
) -> None:
    """Deterministic content-keyed shard export — the final step of
    a training-data pipeline. Shard = md5-bucket(key) % n_shards, so
    the same document lands in the same shard on every run and every
    cluster layout (no RNG, no task-order dependence — downstream
    data loaders can cache/resume per shard). ``repartition`` on the
    shard id makes each task own exactly one shard, so each
    ``shard=N/`` directory holds one file; readers get
    partition-pruned access to any shard subset."""
    from pyspark.sql import functions as F

    shard = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("long") % n_shards
    )
    (
        df.withColumn("shard", shard)
        .repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def append_jdbc(df: DataFrame, url: str, table: str, properties: dict | None = None) -> None:
    """Optional JDBC write-through (reference: DBI/RSQLite,
    ``main.R:117``). Parquet is the native sink; this exists for
    relational targets when a driver jar is on the classpath."""
    df.write.mode("append").jdbc(url, table, properties=properties or {})
