"""The reference's micro-batch ETL loop, Spark-native.

Reference shape (``main.R:202-212``): for each chunk — ingest a
bounded slice of the stream to a landing file (``get_tweets``,
``main.R:49-70``), transform it (``transform_tweets``,
``main.R:74-109``), append to the sink (``load_tweets``,
``main.R:113-121``).

Spark-native shape: the landing directory IS the stream.
``readStream.json`` (explicit schema) + ``foreachBatch`` running
the same transform used in batch, appending to a parquet sink.
The transform is split in two so a micro-batch runs only the Spark
jobs its output needs:

- the per-document projection (:func:`project_docs`: rename,
  clean ``content`` on ``es`` rows) is applied ONCE to the
  streaming frame, so its expression tree (the regex chain) is
  built and analysed once per stream, not once per batch;
- each batch runs only the ``lang = 'es'`` filter (plus the
  ``--keys`` track filter) and the keep-first window
  (:func:`keep_first_batch`). The filter stays in the batch: the
  sources then count every landed row, and ``batch_df`` is a
  ``LogicalRDD``, so the ``when`` in the projection is what keeps
  the regex chain off non-``es`` rows. A batch of one partition (one
  small landed file) runs the window inside that partition, with no
  shuffle, so its write is one Spark job.

Differences, both deliberate upgrades:

- checkpointing makes the loop effectively-once (the reference
  loses the in-flight chunk on crash; SURVEY.md §1.3);
- ``availableNow`` reproduces the bounded run (N chunks then stop)
  while ``processingTime`` mirrors the 60 s cadence
  (``main.R:165-170``).

Dedup scope matches the reference exactly: per-batch keep-first
(``main.R:105``). Cross-batch dedup is the separate
:func:`run_microbatch_pipeline_global_dedup` stream, whose sink
carries each row's content digest and so is its own key index.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cleaning import clean_chain
from ..sources import DOCUMENTS_SCHEMA, read_ndjson_stream

#: the global-dedup sink's key column, read alone by each batch's
#: anti-join: ``unhex(md5(content))``, 16 bytes per sink row.
KEY_INDEX_SCHEMA = T.StructType([T.StructField("digest", T.BinaryType())])


def project_docs(df: DataFrame) -> DataFrame:
    """The per-document half of the transform (``main.R:83-103``):
    project + rename, and ``content`` = the cleaning chain on
    ``lang = 'es'`` rows (null on the rest, which the batch filter
    drops before keep-first)."""
    return df.select(
        F.col("doc_id").alias("tweet_id"),
        F.col("lang"),
        F.when(F.col("lang") == "es", clean_chain(F.col("text"))).alias("content"),
        F.col("source"),
    )


def keep_first_batch(df: DataFrame) -> DataFrame:
    """Keep-first dedup within the batch (``main.R:105``): the row
    with the smallest ``tweet_id`` per ``content``. When ``df`` reads
    one ``LogicalRDD`` (a ``foreachBatch`` frame) of one partition, it
    is coalesced to one partition: no row moves, and the sort and
    window run in the scan's stage, without an Exchange. The count is
    read off that leaf; ``df.rdd`` would plan ``df`` and build a Python
    RDD (12-15 ms against 0.24 ms a batch on a 4-core VM)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    if leaves.size() == 1:
        leaf = leaves.head()
        if leaf.nodeName() == "LogicalRDD" and leaf.rdd().getNumPartitions() == 1:
            df = df.coalesce(1)
    w = Window.partitionBy("content").orderBy("tweet_id")
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _kept_rows(keys: Sequence[str] = ()) -> Column:
    """The batch filter: ``lang = 'es'``, and with track ``keys``
    (``main.R:133-136``) an OR of ``content`` containing each term.
    The terms test only ``content``, keep-first's partition key, so
    filtering before keep-first keeps the rows filtering after would."""
    cond = F.col("lang") == "es"
    if keys:
        cond = cond & reduce(or_, (F.col("content").contains(k) for k in keys))
    return cond


def transform_batch(df: DataFrame) -> DataFrame:
    """Per-batch transform — identical semantics to the batch
    flagship (filter -> project/rename -> clean -> keep-first dedup
    within the batch, reference ``main.R:74-109``), over raw docs."""
    return keep_first_batch(project_docs(df).filter(_kept_rows()))


def _start(
    stream: DataFrame,
    sink,
    checkpoint_dir: str,
    await_seconds: int | None,
    cadence_seconds: int | None = None,
):
    """Start ``stream`` into the foreachBatch ``sink``. With no
    ``cadence_seconds`` the query runs ``availableNow`` (drain what has
    landed, then stop) and is awaited for up to ``await_seconds``;
    otherwise it runs live on a ``processingTime`` cadence and is
    returned at once."""
    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if cadence_seconds is not None:
        return writer.trigger(processingTime=f"{cadence_seconds} seconds").start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(await_seconds)
    return q


def key_index_path(sink_path: str) -> str:
    """Where the global-dedup stream's key digests live: the sink
    itself, which carries them in its ``digest`` column."""
    return sink_path


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

    Layout: the sink is its own key index, with columns ``tweet_id,
    lang, content, source, digest``; ``digest`` is
    ``unhex(md5(content))`` (16 bytes, :data:`KEY_INDEX_SCHEMA`),
    computed in the stream's projection. Each batch anti-joins
    (null-safe, so a null ``content`` is deduplicated across batches
    as keep-first does within one) against the sink read with that
    one-column schema, so only the digest column chunks are scanned: a
    few GB per batch at 100 TB of documents, plus every file's footer.

    Per batch: one anti-join, one cached survivor set guarded by
    ``isEmpty`` (an all-seen batch writes nothing), then one append,
    one file at a few hundred rows a batch. A one-partition batch has
    no shuffle (:func:`keep_first_batch`); a larger one ends in the
    keep-first shuffle, whose partitioning Spark keeps for a cached
    plan unless ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    is on, and each batch would then write one file per shuffle
    partition. The setting is turned on for the streaming query's own
    session (``batch_df.sparkSession``, cloned when the query starts),
    not in ``get_spark``, where it would also change the output
    partitioning of every frame the query operators persist (pinned in
    ``PLAN_SNAPSHOT.json``).

    Replay: the append is one job commit, so a batch the checkpoint
    replays (crash after the append, before the commit) finds its own
    digests and writes nothing: exactly-once on the sink.
    """
    stream = project_docs(
        read_ndjson_stream(spark, landing_dir, DOCUMENTS_SCHEMA)
    ).withColumn("digest", F.unhex(F.md5(F.col("content"))))
    es = _kept_rows()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.sparkSession.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        out = keep_first_batch(batch_df.filter(es))
        if os.path.exists(sink_path):
            seen = spark.read.schema(KEY_INDEX_SCHEMA).parquet(sink_path)
            out = out.join(
                seen, out["digest"].eqNullSafe(seen["digest"]), "left_anti"
            )
        out = out.persist()  # one anti-join, guard and write
        try:
            if not out.isEmpty():
                out.write.mode("append").parquet(sink_path)
        finally:
            out.unpersist()

    return _start(stream, _sink, checkpoint_dir, await_seconds)


def idempotent_batch_writer(sink_path: str):
    """foreachBatch writer with **idempotent replay**: each batch
    lands in its own ``batch_id=N`` partition directory with
    overwrite semantics, so a batch replayed after a crash between
    write and checkpoint-commit overwrites its own output instead of
    appending a duplicate — effectively-once on top of the
    at-least-once checkpoint contract, with plain parquet (the same
    trick a table format's transactional commit generalizes).
    Readers scan the sink root; ``batch_id`` surfaces as a partition
    column and partition pruning gives per-batch access for free.

    The writer takes raw document rows and runs :func:`transform_batch`.
    Its empty guard is a limit-1 scan for an ``es`` row, exact because
    keep-first of a non-empty frame is never empty; the write then
    runs the transform once."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.filter(F.col("lang") == "es").isEmpty():
            return
        transform_batch(batch_df).write.mode("overwrite").parquet(
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
    return _start(
        stream, idempotent_batch_writer(sink_path), checkpoint_dir, await_seconds
    )


def run_microbatch_pipeline(
    spark: SparkSession,
    landing_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    *,
    bounded: bool = True,
    cadence_seconds: int = 60,
    await_seconds: int | None = None,
    keys: Sequence[str] = (),
):
    """Run the ETL loop. ``bounded=True`` = the reference's
    N-chunks-then-exit run (``availableNow``); otherwise a live
    ``processingTime`` cadence. ``keys`` are the reference's track
    terms (``main.R:133-136``): a row is kept only if its cleaned
    ``content`` contains one of them. Returns the StreamingQuery
    (already awaited when bounded).

    Per batch: the empty-chunk guard (``main.R:75-78, 114``) is a
    limit-1 scan of the filtered rows, exact because keep-first of a
    non-empty frame is never empty; the write then runs the
    keep-first window once."""
    stream = project_docs(read_ndjson_stream(spark, landing_dir, DOCUMENTS_SCHEMA))
    kept = _kept_rows(keys)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.filter(kept)
        if rows.isEmpty():
            return
        keep_first_batch(rows).write.mode("append").parquet(sink_path)

    return _start(
        stream, _sink, checkpoint_dir, await_seconds,
        None if bounded else cadence_seconds,
    )


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
    a backfill job. Replay gate: the sums are not idempotent, so each
    trigger passes its ``batch_id``, which is stamped with the
    published version; a batch the checkpoint replays (crash after
    the publish, before the commit) has ``batch_id <= last_merged``
    and is skipped, leaving the rollup as it was."""
    from ..rollup import update_rollup

    stream = read_ndjson_stream(spark, landing_dir, DOCUMENTS_SCHEMA)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_rollup(spark, rollup_dir, batch_df, batch_id)

    return _start(stream, _sink, checkpoint_dir, await_seconds)
