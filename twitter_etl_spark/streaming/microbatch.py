"""The reference's micro-batch ETL loop, Spark-native.

Reference shape (``main.R:202-212``): for each chunk — ingest a
bounded slice of the stream to a landing file (``get_tweets``,
``main.R:49-70``), transform it (``transform_tweets``,
``main.R:74-109``), append to the sink (``load_tweets``,
``main.R:113-121``).

Spark-native shape: the landing directory IS the stream.
``readStream.json`` (explicit schema) + ``foreachBatch`` running
the same transform used in batch, appending to a parquet sink.
Differences, both deliberate upgrades:

- checkpointing makes the loop effectively-once (the reference
  loses the in-flight chunk on crash; SURVEY.md §1.3);
- ``availableNow`` reproduces the bounded run (N chunks then stop)
  while ``processingTime`` mirrors the 60 s cadence
  (``main.R:165-170``).

Dedup scope matches the reference exactly: per-batch keep-first
(``main.R:105``) — global dedup is the explicit q_dedup_* operator
family, not a sink property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cleaning import clean_chain
from ..sources import DOCUMENTS_SCHEMA, read_ndjson_stream


def transform_batch(df: DataFrame) -> DataFrame:
    """Per-batch transform — identical semantics to the batch
    flagship (filter -> project/rename -> clean -> keep-first dedup
    within the batch, reference ``main.R:74-109``)."""
    cleaned = (
        df.filter(F.col("lang") == "es")
        .select(
            F.col("doc_id").alias("tweet_id"),
            F.col("lang"),
            F.col("text").alias("content"),
            F.col("source"),
        )
        .withColumn("content", clean_chain(F.col("content")))
    )
    w = Window.partitionBy("content").orderBy("tweet_id")
    return (
        cleaned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def key_index_path(sink_path: str) -> str:
    """Location of the compact key-digest index maintained next to a
    global-dedup sink."""
    return sink_path.rstrip("/") + "_keyidx"


def run_microbatch_pipeline_global_dedup(
    spark: SparkSession,
    landing_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    *,
    await_seconds: int | None = None,
):
    """The global-dedup upgrade of the loop (SURVEY.md §1.3):
    duplicates are dropped ACROSS batches, not just within one (the
    reference keeps cross-chunk duplicates, ``main.R:105``).

    Scale design: the sink itself is NEVER re-read. Each batch
    anti-joins against a compact **key-digest index**
    (:func:`key_index_path`) holding one 16-byte ``md5(content)``
    per sink row, and appends the surviving digests to the index —
    per-batch read cost follows the number of *keys ever written*
    (a few GB at 100 TB of documents), not sink size, and the scan
    is a single fixed-width column.

    Per-batch shape: one anti-join, one cached survivor set, then one
    append to the sink and one to the index — one file each at a few
    hundred rows a batch. The survivor set ends in the keep-first
    window's shuffle, and Spark keeps a cached plan's shuffle
    partitioning unless
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is
    on; left off, every batch writes one file per shuffle partition to
    both, and every later anti-join lists and scans them all. The
    setting is turned on for the streaming query's own session
    (``batch_df.sparkSession``, cloned when the query starts), not in
    ``get_spark``: there it would also change the output partitioning
    of every frame the query operators persist (their plans are pinned
    in ``PLAN_SNAPSHOT.json``), while the clone leaves the caller's
    session at Spark's default.

    On a cluster AQE then sizes each batch's files to the advisory
    partition size, and the index would be bucketed by digest so only
    the (small) batch side shuffles.

    Ordering: sink append happens before index append, so a crash
    between the two replays the batch and re-appends — at-least-once
    on the sink, never data loss (index-first would silently drop
    the replayed rows). The checkpoint makes replays rare; an
    idempotent sink (dynamic-overwrite partition per batch id, or a
    table format with txn commit) would close the remaining window.
    """
    stream = read_ndjson_stream(spark, landing_dir, DOCUMENTS_SCHEMA)
    index_path = key_index_path(sink_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        import os

        batch_df.sparkSession.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        out = transform_batch(batch_df).withColumn(
            "__digest", F.md5(F.col("content"))
        )
        if os.path.exists(index_path):
            seen = spark.read.parquet(index_path)
            out = out.join(seen, out["__digest"] == seen["digest"], "left_anti")
        out = out.persist()  # one anti-join, two writes
        try:
            if out.isEmpty():
                return
            out.drop("__digest").write.mode("append").parquet(sink_path)
            out.select(F.col("__digest").alias("digest")).write.mode(
                "append"
            ).parquet(index_path)
        finally:
            out.unpersist()

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(await_seconds)
    return q


def idempotent_batch_writer(sink_path: str, transform=transform_batch):
    """foreachBatch writer with **idempotent replay**: each batch
    lands in its own ``batch_id=N`` partition directory with
    overwrite semantics, so a batch replayed after a crash between
    write and checkpoint-commit overwrites its own output instead of
    appending a duplicate — effectively-once on top of the
    at-least-once checkpoint contract, with plain parquet (the same
    trick a table format's transactional commit generalizes).
    Readers scan the sink root; ``batch_id`` surfaces as a partition
    column and partition pruning gives per-batch access for free."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df)
        if out.isEmpty():
            return
        out.write.mode("overwrite").parquet(
            f"{sink_path.rstrip('/')}/batch_id={batch_id}"
        )

    return _sink


def run_microbatch_pipeline_idempotent(
    spark: SparkSession,
    landing_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    *,
    await_seconds: int | None = None,
):
    """The loop with :func:`idempotent_batch_writer` as the sink —
    the exactly-once-effective upgrade of the reference's
    at-least-once append (``main.R:118``; SURVEY.md §1.3)."""
    stream = read_ndjson_stream(spark, landing_dir, DOCUMENTS_SCHEMA)
    q = (
        stream.writeStream.foreachBatch(idempotent_batch_writer(sink_path))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(await_seconds)
    return q


def run_microbatch_pipeline(
    spark: SparkSession,
    landing_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    *,
    bounded: bool = True,
    cadence_seconds: int = 60,
    await_seconds: int | None = None,
    transform=transform_batch,
):
    """Run the ETL loop. ``bounded=True`` = the reference's
    N-chunks-then-exit run (``availableNow``); otherwise a live
    ``processingTime`` cadence. ``transform`` defaults to the
    reference-parity batch transform. Returns the StreamingQuery
    (already awaited when bounded)."""
    stream = read_ndjson_stream(spark, landing_dir, DOCUMENTS_SCHEMA)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df)
        if out.isEmpty():  # reference empty-chunk guard (main.R:75-78, 114)
            return
        out.write.mode("append").parquet(sink_path)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if bounded:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(await_seconds)
    else:
        q = writer.trigger(processingTime=f"{cadence_seconds} seconds").start()
    return q


def run_streaming_rollup(
    spark: SparkSession,
    landing_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    *,
    await_seconds: int | None = None,
):
    """Streaming MATERIALIZED-VIEW maintenance: each micro-batch is
    absorbed into the per-lang stats rollup via
    :func:`twitter_etl_spark.rollup.update_rollup` — O(batch +
    |rollup|) per trigger, history never re-read, every trigger an
    atomic `publish_version` snapshot (readers always see a complete
    rollup; a mid-batch crash leaves the previous version live and
    the checkpoint replays the batch).

    This is the streaming half of the incremental-rollup story the
    batch side proves (`q_agg_mergeable` merge algebra): the same
    partial-state monoid, driven by the micro-batch loop instead of
    a backfill job. Replay caveat: update_rollup is NOT idempotent
    per batch (a replayed batch would double-merge), so at-least-once
    delivery needs the batch_id recorded with the version — the
    version number returned per trigger serves as that marker; a
    production deployment gates on `batch_id > last_merged` exactly
    like `idempotent_batch_writer` gates its partition overwrite."""
    from ..rollup import update_rollup

    stream = read_ndjson_stream(spark, landing_dir, DOCUMENTS_SCHEMA)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_rollup(spark, rollup_dir, batch_df)

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(await_seconds)
    return q
