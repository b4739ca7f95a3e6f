"""Streaming layer: micro-batch loop end-to-end + event-time windows."""

from __future__ import annotations

import json
import os
import tempfile
from collections import Counter

import pytest

from pyspark.sql import functions as F

from twitter_etl_spark.streaming import (
    run_microbatch_pipeline,
    sessionized_stream,
    sliding_counts,
    streaming_dedup,
    tumbling_counts,
)


def _write_landing_file(landing: str, name: str, rows: list[dict]) -> None:
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _doc(i, text, lang="es"):
    return {
        "doc_id": i,
        "text": text,
        "lang": lang,
        "source": f"src{i % 3}",
        "n_chars": len(text),
    }


def test_microbatch_pipeline_end_to_end(spark):
    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")

    # chunk 1: two es docs (one duplicate pair after cleaning) + one en
    _write_landing_file(
        landing,
        "stream_20240101_000000.json",
        [
            _doc(1, "Hola   Mundo"),
            _doc(2, "hola mundo"),
            _doc(3, "english stuff", lang="en"),
        ],
    )
    run_microbatch_pipeline(spark, landing, sink, ckpt, bounded=True)
    out1 = spark.read.parquet(sink)
    assert out1.count() == 1  # es-dup collapsed within the batch, en filtered
    assert out1.first()["content"] == "hola mundo"

    # chunk 2: checkpoint means ONLY the new file is processed; the
    # duplicate of chunk 1 is re-appended (per-batch dedup scope,
    # reference main.R:105 semantics)
    _write_landing_file(
        landing,
        "stream_20240101_000100.json",
        [_doc(10, "hola mundo"), _doc(11, "otra frase nueva")],
    )
    run_microbatch_pipeline(spark, landing, sink, ckpt, bounded=True)
    out2 = spark.read.parquet(sink)
    assert out2.count() == 3
    assert out2.filter(F.col("content") == "hola mundo").count() == 2


def _events_stream(spark, tmpdir):
    """File-source events stream from NDJSON (ts as ISO strings)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.readStream.schema(schema).json(tmpdir)


def _run_to_memory(spark, sdf, name, output_mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


@pytest.fixture()
def events_dir(spark):
    d = tempfile.mkdtemp()
    rows = [
        # two users; user 1 has two sessions (gap > 30 min)
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:04:00", "user_id": 1, "event_type": "view", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01T00:11:00", "user_id": 1, "event_type": "click", "value": 3.0},
        {"event_id": 4, "ts": "2024-01-01T01:00:00", "user_id": 1, "event_type": "click", "value": 4.0},
        {"event_id": 5, "ts": "2024-01-01T00:02:00", "user_id": 2, "event_type": "view", "value": 5.0},
        {"event_id": 5, "ts": "2024-01-01T00:02:00", "user_id": 2, "event_type": "view", "value": 5.0},  # dup
    ]
    with open(os.path.join(d, "events.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return d


def test_tumbling_window_stream(spark, events_dir):
    out = _run_to_memory(
        spark, tumbling_counts(_events_stream(spark, events_dir)), "t_tumble", "complete"
    ).collect()
    by_key = {(r["window_start"].minute, r["event_type"]): r["n_events"] for r in out}
    assert by_key[(0, "click")] == 1  # 00:00 window
    assert by_key[(10, "click")] == 1  # 00:10 window
    assert by_key[(0, "view")] == 3  # includes the duplicate


def test_sliding_window_stream(spark, events_dir):
    out = _run_to_memory(
        spark, sliding_counts(_events_stream(spark, events_dir)), "t_slide", "complete"
    ).collect()
    # every event is in exactly two sliding windows
    assert sum(r["n_events"] for r in out) == 12


def test_session_window_stream(spark, events_dir):
    out = _run_to_memory(
        spark,
        sessionized_stream(_events_stream(spark, events_dir)),
        "t_sess",
        "complete",
    ).collect()
    sessions = {(r["user_id"], r["n_events"]) for r in out}
    # user 1: one 3-event session + one 1-event session; user 2: one 2-event
    assert sessions == {(1, 3), (1, 1), (2, 2)}


def test_streaming_dedup(spark, events_dir):
    out = _run_to_memory(
        spark,
        streaming_dedup(_events_stream(spark, events_dir)),
        "t_dedup",
        "append",
    ).collect()
    ids = [r["event_id"] for r in out]
    assert sorted(ids) == [1, 2, 3, 4, 5]  # duplicate event 5 dropped


def test_watermark_drops_late_data(spark):
    """Two checkpointed bounded runs: an event older than the
    watermark carried over from run 1 is dropped; on-time events
    keep flowing (late-data policy, SURVEY.md §2.5)."""
    base = tempfile.mkdtemp()
    d, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
    os.makedirs(d)

    def ev(i, ts, v):
        return {"event_id": i, "ts": ts, "user_id": 1, "event_type": "click", "value": v}

    sink = os.path.join(base, "sink")

    def run(_name):
        sdf = tumbling_counts(_events_stream(spark, d), watermark="1 hour")
        q = (
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink).collect()

    with open(os.path.join(d, "f1.json"), "w") as f:
        f.write(json.dumps(ev(1, "2024-01-01T00:00:00", 1.0)) + "\n")
        f.write(json.dumps(ev(2, "2024-01-01T03:00:00", 2.0)) + "\n")
    out1 = run("wm_run1")
    # watermark advanced to 02:00 -> the 00:00-00:10 window finalized
    assert [(r["window_start"].hour, r["n_events"]) for r in out1] == [(0, 1)]

    with open(os.path.join(d, "f2.json"), "w") as f:
        f.write(json.dumps(ev(3, "2024-01-01T00:05:00", 9.0)) + "\n")  # LATE -> dropped
        f.write(json.dumps(ev(4, "2024-01-01T05:00:00", 3.0)) + "\n")
    out2 = run("wm_run2")
    # only the 03:00 window closes; the late 00:05 event creates no
    # resurrected 00:00-hour window and bumps no count
    assert sorted((r["window_start"].hour, r["n_events"]) for r in out2) == [
        (0, 1),
        (3, 1),
    ]


def test_processing_time_trigger_live_loop(spark):
    """Unbounded cadence path (reference's 60 s chunk loop,
    main.R:165-170): start live, let the first micro-batch land,
    stop cleanly."""
    import time

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    sink = os.path.join(base, "sink")
    _write_landing_file(
        landing, "stream_20240101_000000.json", [_doc(1, "hola mundo vivo")]
    )
    q = run_microbatch_pipeline(
        spark,
        landing,
        sink,
        os.path.join(base, "ckpt"),
        bounded=False,
        cadence_seconds=1,
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if os.path.exists(sink) and any(
                f.endswith(".parquet") for f in os.listdir(sink)
            ):
                break
            time.sleep(0.5)
        assert spark.read.parquet(sink).count() == 1
        assert q.isActive
    finally:
        q.stop()
    assert not q.isActive


def test_microbatch_global_dedup(spark):
    """Global-dedup variant: a duplicate arriving in a LATER batch is
    dropped (cross-batch scope — the upgrade over main.R:105)."""
    from twitter_etl_spark.streaming.microbatch import (
        run_microbatch_pipeline_global_dedup,
    )

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    _write_landing_file(
        landing, "stream_1.json", [_doc(1, "hola mundo"), _doc(2, "otra frase")]
    )
    run_microbatch_pipeline_global_dedup(spark, landing, sink, ckpt)
    assert spark.read.parquet(sink).count() == 2

    _write_landing_file(
        landing, "stream_2.json", [_doc(10, "hola   MUNDO"), _doc(11, "frase nueva")]
    )
    run_microbatch_pipeline_global_dedup(spark, landing, sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.count() == 3  # normalized dup of batch 1 dropped globally
    assert out.filter(F.col("content") == "hola mundo").count() == 1

    # the sink is its own key index: each row carries the 16-byte
    # md5 of its content, and no side index is written
    assert out.columns == ["tweet_id", "lang", "content", "source", "digest"]
    assert out.filter(F.col("digest") != F.unhex(F.md5("content"))).count() == 0
    assert sorted(os.listdir(base)) == ["ckpt", "landing", "sink"]


@pytest.mark.slow
def test_stream_stream_join_attribution(spark):
    """Stream-stream inner join with a 30-minute attribution window:
    a purchase joins prior clicks of the same user inside the
    horizon only; the time-bounded condition keeps join state
    finite. Two independent file-source streams."""
    from twitter_etl_spark.streaming import stream_stream_join

    clicks_dir, purchases_dir = tempfile.mkdtemp(), tempfile.mkdtemp()

    def _write(d, rows):
        with open(os.path.join(d, "events.json"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    _write(
        clicks_dir,
        [
            {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1,
             "event_type": "click", "value": 0.0},
            {"event_id": 2, "ts": "2024-01-01T02:00:00", "user_id": 2,
             "event_type": "click", "value": 0.0},
        ],
    )
    _write(
        purchases_dir,
        [
            # 10 min after user 1's click: attributed
            {"event_id": 10, "ts": "2024-01-01T00:10:00", "user_id": 1,
             "event_type": "purchase", "value": 9.99},
            # 3 h after user 2's click: outside the horizon
            {"event_id": 11, "ts": "2024-01-01T05:00:00", "user_id": 2,
             "event_type": "purchase", "value": 5.0},
        ],
    )
    joined = stream_stream_join(
        _events_stream(spark, clicks_dir), _events_stream(spark, purchases_dir)
    )
    out = _run_to_memory(spark, joined, "t_ssjoin", "append").collect()
    assert [(r["user_id"], r["click_id"], r["purchase_value"]) for r in out] == [
        (1, 1, 9.99)
    ]


def test_idempotent_sink_replay_safe(spark):
    """A replayed batch (crash between write and checkpoint commit)
    overwrites its own batch_id partition instead of appending a
    duplicate — effectively-once with plain parquet."""
    from twitter_etl_spark.streaming.microbatch import (
        idempotent_batch_writer,
        run_microbatch_pipeline_idempotent,
    )

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    _write_landing_file(
        landing, "stream_1.json", [_doc(1, "hola mundo"), _doc(2, "frase unica")]
    )
    run_microbatch_pipeline_idempotent(spark, landing, sink, ckpt)
    out1 = spark.read.parquet(sink)
    assert out1.count() == 2
    assert "batch_id" in out1.columns  # per-batch partition pruning

    # simulate the at-least-once replay: same batch data, same id
    writer = idempotent_batch_writer(sink)
    replay = spark.createDataFrame(
        [(1, "hola mundo", "es", "s1", 10), (2, "frase unica", "es", "s2", 11)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    writer(replay, 0)
    assert spark.read.parquet(sink).count() == 2  # no duplicates

    writer(replay, 1)  # a genuinely NEW batch still appends
    assert spark.read.parquet(sink).count() == 4


def test_rate_source_live_cadence(spark):
    """Unbounded-ingest demonstrator: the rate source never ends, so
    a processingTime trigger keeps producing micro-batches through
    the reference transform — the live-stream role of main.R:60-66
    (the file-landing source, by contrast, drains and stops)."""
    import time

    from twitter_etl_spark.sources import read_rate_stream
    from twitter_etl_spark.streaming.microbatch import transform_batch

    base = tempfile.mkdtemp()
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    seen: list[int] = []

    def _sink(batch_df, batch_id):
        out = transform_batch(batch_df)
        if out.isEmpty():
            return
        out.write.mode("append").parquet(sink)
        seen.append(batch_id)

    q = (
        read_rate_stream(spark, rows_per_second=100)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 90
    try:
        while len(set(seen)) < 2 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(set(seen)) >= 2  # two live batches consumed
    out = spark.read.parquet(sink)
    assert out.count() > 0
    # the per-batch transform ran: en rows filtered, content cleaned
    assert out.filter(~F.col("content").startswith("hola mundo")).count() == 0


def _sql_plans(spark, query) -> list[str]:
    """Physical plan descriptions of the SQL executions that streaming
    ``query`` ran (their description names its ``runId``), read from
    the session's SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    run_id = f"runId = {query.runId}"
    return [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if run_id in e.description()
    ]


def _scan_schemas(spark, query, path: str) -> set[str]:
    """``ReadSchema`` of every parquet scan of ``path`` in those plans."""
    return {
        block.rsplit("ReadSchema: ", 1)[1].split()[0]
        for plan in _sql_plans(spark, query)
        for block in plan.split("\n\n")
        if "Scan parquet" in block.split("\n", 1)[0] and f"[file:{path}]" in block
    }


def test_microbatch_global_dedup_uses_index_not_sink(spark):
    """The anti-join reads the sink as its key index: every scan of
    the sink inside the stream reads the digest column alone
    (``struct<digest:binary>``), never the documents, and a later
    duplicate of the first batch is still dropped."""
    from twitter_etl_spark.streaming.microbatch import (
        run_microbatch_pipeline_global_dedup,
    )

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    _write_landing_file(landing, "stream_1.json", [_doc(1, "hola mundo")])
    run_microbatch_pipeline_global_dedup(spark, landing, sink, ckpt)
    _write_landing_file(
        landing, "stream_2.json", [_doc(2, "HOLA  mundo"), _doc(3, "otra frase")]
    )
    q = run_microbatch_pipeline_global_dedup(spark, landing, sink, ckpt)
    # ("otra" is a stopword, so the survivor cleans to "frase")
    assert sorted(r["content"] for r in spark.read.parquet(sink).collect()) == [
        "frase", "hola mundo"
    ]
    assert _scan_schemas(spark, q, sink) == {"struct<digest:binary>"}


_CACHED_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _part_files(path: str) -> set[str]:
    return {f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")}


def _global_dedup_two_batches(spark):
    """Two landing files of 250 distinct ``es`` docs each, run as two
    batches of the global-dedup stream. File 1 also carries ten
    within-batch duplicates and twenty ``en`` docs; file 2 repeats 50
    of file 1's contents. Returns (landing, sink, ckpt, expected sink
    rows as ``{(tweet_id, content)}``)."""
    from twitter_etl_spark.streaming.microbatch import (
        run_microbatch_pipeline_global_dedup,
    )

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    first = [_doc(i, f"tuit{i} mundo") for i in range(250)]
    first += [_doc(500 + i, f"TUIT{i}  Mundo") for i in range(10)]
    first += [_doc(600 + i, f"tweet{i} world", lang="en") for i in range(20)]
    _write_landing_file(landing, "stream_1.json", first)
    run_microbatch_pipeline_global_dedup(spark, landing, sink, ckpt)
    _write_landing_file(
        landing, "stream_2.json", [_doc(1000 + i, f"tuit{i} mundo") for i in range(200, 450)]
    )
    run_microbatch_pipeline_global_dedup(spark, landing, sink, ckpt)
    expected = {(i, f"tuit{i} mundo") for i in range(250)}
    expected |= {(1000 + i, f"tuit{i} mundo") for i in range(250, 450)}
    return landing, sink, ckpt, expected


def test_global_dedup_writes_one_file_per_batch(spark):
    """A batch of a few hundred rows appends one parquet file to the
    sink (not one per shuffle partition) and nothing else: the sink
    carries each row's digest, and no side index is written. The
    caller's session keeps Spark's default cached-plan partitioning."""
    _, sink, _, expected = _global_dedup_two_batches(spark)
    assert len(_part_files(sink)) == 2
    assert not os.path.exists(sink + "_keyidx")
    out = spark.read.parquet(sink)
    assert {(r["tweet_id"], r["content"]) for r in out.collect()} == expected
    assert out.columns == ["tweet_id", "lang", "content", "source", "digest"]
    assert out.filter(F.col("digest") != F.unhex(F.md5("content"))).count() == 0
    assert spark.conf.get(_CACHED_PARTITIONING) == "false"


def test_global_dedup_all_seen_batch_writes_nothing(spark):
    """A batch whose every ``es`` row is already in the sink passes
    the empty-chunk guard (``main.R:75-78, 114``), ``isEmpty`` on the
    cached survivors: no sink file, no empty parquet."""
    from twitter_etl_spark.streaming.microbatch import (
        run_microbatch_pipeline_global_dedup,
    )

    landing, sink, ckpt, expected = _global_dedup_two_batches(spark)
    sink_files = _part_files(sink)
    third = [_doc(2000 + i, f"TUIT{i}   mundo") for i in range(0, 450, 3)]
    third += [_doc(3000 + i, f"nuevo{i} world", lang="en") for i in range(5)]
    _write_landing_file(landing, "stream_3.json", third)
    q = run_microbatch_pipeline_global_dedup(spark, landing, sink, ckpt)
    assert sum(p.numInputRows for p in q.recentProgress) == len(third)
    assert _part_files(sink) == sink_files
    out = spark.read.parquet(sink)
    assert {(r["tweet_id"], r["content"]) for r in out.collect()} == expected
    assert out.count() == len(expected)
    assert spark.conf.get(_CACHED_PARTITIONING) == "false"


def _two_file_landing():
    """Two landing files for the stream-vs-batch pins. Ids grow across
    files (``doc_id`` is a load-order surrogate). File 1: contents that
    clean alike with untied ids (3 < 5) and with tied ids (two rows of
    id 7), a null ``text`` and ``en`` rows; file 2: a repost of file 1's
    content, a second null ``text``, a content new to the stream and an
    ``en`` row."""
    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")

    def null_text(i):
        return {**_doc(i, ""), "text": None, "n_chars": None}

    _write_landing_file(
        landing,
        "stream_1.json",
        [
            _doc(5, "Hola   Mundo"),
            _doc(3, "hola mundo @alguien"),
            _doc(7, "Frase  Repetida"),
            _doc(7, "frase repetida"),
            null_text(9),
            _doc(4, "hola mundo", lang="en"),
            _doc(6, "some english words", lang="en"),
        ],
    )
    _write_landing_file(
        landing,
        "stream_2.json",
        [
            _doc(12, "HOLA mundo http://t.co/x"),
            null_text(13),
            _doc(14, "frase nueva aqui"),
            _doc(15, "frase nueva aqui", lang="en"),
        ],
    )
    # the file source takes files in modification-time order
    first = os.path.join(landing, "stream_1.json")
    os.utime(first, (os.path.getmtime(first) - 10,) * 2)
    return base, landing


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.select("tweet_id", "lang", "content", "source").collect())


def test_stream_equals_batch_transform(spark):
    """Stream == batch: the append sink holds the per-file batch
    transform of each landed file, and the global-dedup sink holds
    keep-first across both files (the repost and the second null
    ``content`` dropped), which is also the batch flagship's output."""
    from twitter_etl_spark.pipeline import transform_documents
    from twitter_etl_spark.sources import read_ndjson
    from twitter_etl_spark.streaming.microbatch import (
        run_microbatch_pipeline_global_dedup,
        transform_batch,
    )

    base, landing = _two_file_landing()
    files = sorted(os.path.join(landing, f) for f in os.listdir(landing))
    want_append = Counter()
    for f in files:
        want_append += _rows(transform_batch(read_ndjson(spark, f)))
    want_dedup = _rows(transform_batch(read_ndjson(spark, landing)))
    assert want_dedup == _rows(transform_documents(read_ndjson(spark, landing)))
    assert want_append != want_dedup  # the repost tells the two apart

    sink, dedup = os.path.join(base, "sink"), os.path.join(base, "dedup")
    run_microbatch_pipeline(spark, landing, sink, os.path.join(base, "ck_sink"))
    run_microbatch_pipeline_global_dedup(spark, landing, dedup, os.path.join(base, "ck_dedup"))
    assert _rows(spark.read.parquet(sink)) == want_append
    assert _rows(spark.read.parquet(dedup)) == want_dedup


def test_global_dedup_skips_replayed_batch(spark):
    """A batch the checkpoint replays (its commit file lost after the
    sink append) finds its own digests in the sink: the replay adds no
    part file and the rows stay keep-first across both files, the
    second null ``content`` still dropped."""
    from twitter_etl_spark.sources import read_ndjson
    from twitter_etl_spark.streaming.microbatch import (
        run_microbatch_pipeline_global_dedup,
        transform_batch,
    )

    base, landing = _two_file_landing()
    sink, ckpt = os.path.join(base, "dedup"), os.path.join(base, "ck_dedup")
    run_microbatch_pipeline_global_dedup(spark, landing, sink, ckpt)
    files, before = _part_files(sink), _rows(spark.read.parquet(sink))
    assert before == _rows(transform_batch(read_ndjson(spark, landing)))
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    q = run_microbatch_pipeline_global_dedup(spark, landing, sink, ckpt)
    assert [p.batchId for p in q.recentProgress] == [1]  # batch 1 replayed
    assert _part_files(sink) == files
    assert _rows(spark.read.parquet(sink)) == before


def _one_file_landing(n: int = 300) -> tuple[str, str]:
    """One landing file of ``n`` docs: ``es`` rows whose contents
    repeat every 50 ids, and every fifth row ``en``."""
    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    docs = [_doc(i, f"tuit{i % 50} mundo", lang="es" if i % 5 else "en") for i in range(n)]
    _write_landing_file(landing, "stream_1.json", docs)
    return base, landing


def _run_both_sinks(spark, base: str, landing: str) -> dict:
    """Run the append and the global-dedup streams over ``landing``;
    return each stream's query by sink path."""
    from twitter_etl_spark.streaming.microbatch import (
        run_microbatch_pipeline_global_dedup,
    )

    runners = {
        "sink": run_microbatch_pipeline,
        "dedup": run_microbatch_pipeline_global_dedup,
    }
    return {
        os.path.join(base, name): run(
            spark, landing, os.path.join(base, name), os.path.join(base, f"ck_{name}")
        )
        for name, run in runners.items()
    }


def test_one_partition_batch_keeps_first_without_shuffle(spark):
    """A one-file batch is one partition, so keep-first runs inside it:
    the append batch runs two jobs (the guard and the write), no plan
    that either stream runs has a shuffle Exchange, and both sinks equal
    the batch transform of the file."""
    from twitter_etl_spark.sources import read_ndjson
    from twitter_etl_spark.streaming.microbatch import transform_batch

    base, landing = _one_file_landing()
    want = _rows(transform_batch(read_ndjson(spark, landing)))
    queries = _run_both_sinks(spark, base, landing)
    tracker = spark.sparkContext.statusTracker()
    for path, q in queries.items():
        assert len(q.recentProgress) == 1
        assert _rows(spark.read.parquet(path)) == want
        plans = [p.replace("BroadcastExchange", "") for p in _sql_plans(spark, q)]
        assert plans and not [p for p in plans if "Exchange" in p]
    sink_q = queries[os.path.join(base, "sink")]
    assert len(tracker.getJobIdsForGroup(str(sink_q.runId))) == 2


def test_split_batch_keeps_the_shuffle(spark):
    """A batch read as several partitions (a small
    ``spark.sql.files.maxPartitionBytes`` splits its one file) keeps
    keep-first's shuffle, and both sinks still equal the batch
    transform of the file, each written as one parquet file."""
    from twitter_etl_spark.sources import read_ndjson
    from twitter_etl_spark.streaming.microbatch import transform_batch

    base, landing = _one_file_landing()
    want = _rows(transform_batch(read_ndjson(spark, landing)))
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        queries = _run_both_sinks(spark, base, landing)
    finally:
        spark.conf.set(key, prior)
    for path, q in queries.items():
        assert len(q.recentProgress) == 1
        assert _rows(spark.read.parquet(path)) == want
        assert any("hashpartitioning(content" in p for p in _sql_plans(spark, q))
        assert len(_part_files(path)) == 1


def test_append_guard_writes_nothing_for_unkept_rows(spark):
    """The empty-chunk guard (``main.R:75-78, 114``) on the filtered
    rows: an ``en``-only file adds no parquet file, and neither does
    an ``es`` file whose content matches no ``keys`` term."""
    base = tempfile.mkdtemp()
    landing, sink, ckpt = (os.path.join(base, n) for n in ("landing", "sink", "ckpt"))
    keys = ("spark", "merge")
    _write_landing_file(
        landing, "stream_1.json", [_doc(1, "spark rapido"), _doc(2, "sin terminos")]
    )
    run_microbatch_pipeline(spark, landing, sink, ckpt, keys=keys)
    files = _part_files(sink)
    assert len(files) == 1
    _write_landing_file(
        landing, "stream_2.json", [_doc(3, "spark merge english", lang="en")]
    )
    _write_landing_file(
        landing, "stream_3.json", [_doc(4, "nada que ver"), _doc(5, "otra cosa")]
    )
    q = run_microbatch_pipeline(spark, landing, sink, ckpt, keys=keys)
    assert len(q.recentProgress) == 2
    assert _part_files(sink) == files
    assert [r["content"] for r in spark.read.parquet(sink).collect()] == ["spark rapido"]


def test_append_and_rollup_jobs_per_batch(spark):
    """Each micro-batch runs only the Spark jobs its output needs: the
    append and idempotent streams a limit-1 guard, the keep-first
    shuffle (none for a one-partition batch) and the write; the rollup
    stream its guard, one merge shuffle and the publish (the previous
    version is read with its known schema)."""
    from twitter_etl_spark.streaming.microbatch import (
        run_microbatch_pipeline_idempotent,
        run_streaming_rollup,
    )

    base, landing = _two_file_landing()
    tracker = spark.sparkContext.statusTracker()
    for name, run in (
        ("sink", run_microbatch_pipeline),
        ("idempotent", run_microbatch_pipeline_idempotent),
        ("rollup", run_streaming_rollup),
    ):
        out = os.path.join(base, name)
        q = run(spark, landing, out, os.path.join(base, f"ck_{name}"))
        batches = len(q.recentProgress)
        assert batches == 2
        assert len(tracker.getJobIdsForGroup(str(q.runId))) <= 3 * batches, name


def test_stateful_running_totals_across_batches(spark):
    """applyInPandasWithState: per-user state survives across
    checkpointed micro-batch runs and keeps accumulating."""
    from twitter_etl_spark.streaming.stateful import running_user_totals

    base = tempfile.mkdtemp()
    d, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    os.makedirs(d)

    def ev(i, user, v):
        return {"event_id": i, "ts": "2024-01-01T00:00:0%d" % (i % 10),
                "user_id": user, "event_type": "click", "value": v}

    def run():
        q = (
            running_user_totals(_events_stream(spark, d))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink).collect()

    with open(os.path.join(d, "f1.json"), "w") as f:
        for r in [ev(1, 1, 10.0), ev(2, 1, 5.0), ev(3, 2, 1.0)]:
            f.write(json.dumps(r) + "\n")
    out1 = {r["user_id"]: (r["n_events"], r["total_value"]) for r in run()}
    assert out1 == {1: (2, 15.0), 2: (1, 1.0)}

    with open(os.path.join(d, "f2.json"), "w") as f:
        for r in [ev(4, 1, 2.5), ev(5, 3, 7.0)]:
            f.write(json.dumps(r) + "\n")
    rows2 = run()
    latest = {}
    for r in rows2:
        latest[r["user_id"]] = max(
            latest.get(r["user_id"], (0, 0.0)), (r["n_events"], r["total_value"])
        )
    # user 1's state carried over: 2+1 events, 15+2.5 total
    assert latest[1] == (3, 17.5)
    assert latest[3] == (1, 7.0)


def test_transform_with_state_processor_across_batches(spark):
    """Spark-4 StatefulProcessor (transformWithStateInPandas):
    ValueState + MapState both survive a checkpointed restart and
    keep accumulating, on the RocksDB state store."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    # the TWS state-server protocol speaks protobuf from a separate
    # python worker; conftest's tws_shim vendors the container's
    # bundled pure-Python protobuf into PYTHONPATH so that worker can
    # start. Skip only where the shim found no working protobuf.
    pytest.importorskip("google.protobuf.descriptor")
    from twitter_etl_spark.streaming.tws import running_user_activity

    base = tempfile.mkdtemp()
    d, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    os.makedirs(d)

    def ev(i, user, typ, v):
        return {"event_id": i, "ts": "2024-01-01T00:00:0%d" % (i % 10),
                "user_id": user, "event_type": typ, "value": v}

    def run():
        q = (
            running_user_activity(_events_stream(spark, d))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink).collect()

    with open(os.path.join(d, "f1.json"), "w") as f:
        for r in [ev(1, 1, "view", 10.0), ev(2, 1, "view", 5.0),
                  ev(3, 1, "click", 1.0), ev(4, 2, "view", 2.0)]:
            f.write(json.dumps(r) + "\n")
    out1 = {r["user_id"]: r for r in run()}
    assert (out1[1]["n_events"], out1[1]["total_value"]) == (3, 16.0)
    assert (out1[1]["n_types"], out1[1]["top_type"]) == (2, "view")
    assert out1[2]["n_events"] == 1

    with open(os.path.join(d, "f2.json"), "w") as f:
        for r in [ev(5, 1, "click", 2.0), ev(6, 1, "click", 3.0)]:
            f.write(json.dumps(r) + "\n")
    rows2 = [r for r in run() if r["user_id"] == 1]
    latest = max(rows2, key=lambda r: r["n_events"])
    # carried over: 3+2 events, 16+5 value; click now ties view at
    # 3 -> lexicographic tie-break picks 'click'
    assert (latest["n_events"], latest["total_value"]) == (5, 21.0)
    assert (latest["n_types"], latest["top_type"]) == (2, "click")


def test_tws_processor_logic_with_fake_state():
    """Executes UserActivityProcessor's init/handleInputRows for real
    against in-memory ValueState/MapState fakes, with the same data
    and assertions as the end-to-end test above. Complements it:
    this one isolates processor logic from the TWS wire layer, so a
    failure here means OUR code, not the protobuf shim or Spark's
    state server."""
    import pandas as pd

    from twitter_etl_spark.streaming.tws import UserActivityProcessor

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeMapState:
        def __init__(self):
            self._m = {}

        def containsKey(self, k):
            return k in self._m

        def getValue(self, k):
            return self._m[k]

        def updateValue(self, k, v):
            self._m[k] = v

        def iterator(self):
            return iter(self._m.items())

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

        def getMapState(self, name, kschema, vschema):
            return self.states.setdefault(name, FakeMapState())

    # one handle per key, persisted across batches = the state store
    handles = {}

    def run_batch(key, pdf):
        proc = UserActivityProcessor()
        proc.init(handles.setdefault(key, FakeHandle()))
        out = pd.concat(list(proc.handleInputRows((key,), iter([pdf]), None)))
        proc.close()
        return out.iloc[0]

    b1_u1 = pd.DataFrame(
        {"event_type": ["view", "view", "click"], "value": [10.0, 5.0, 1.0]}
    )
    b1_u2 = pd.DataFrame({"event_type": ["view"], "value": [2.0]})
    r1, r2 = run_batch(1, b1_u1), run_batch(2, b1_u2)
    assert (r1["n_events"], r1["total_value"]) == (3, 16.0)
    assert (r1["n_types"], r1["top_type"]) == (2, "view")
    assert r2["n_events"] == 1

    # batch 2 for user 1: state carries; click ties view at 3 ->
    # lexicographic tie-break picks 'click'
    b2_u1 = pd.DataFrame({"event_type": ["click", "click"], "value": [2.0, 3.0]})
    r1b = run_batch(1, b2_u1)
    assert (r1b["n_events"], r1b["total_value"]) == (5, 21.0)
    assert (r1b["n_types"], r1b["top_type"]) == (2, "click")


def test_socket_source_live_stream(spark):
    """Live socket ingest (main.R:60-66's blocking HTTP-stream role):
    a real TCP server feeds NDJSON lines; the socket source consumes
    >= 2 processingTime micro-batches, parsing with the explicit
    documents schema and quarantining a malformed line (_raw kept,
    fields NULL) — the streaming twin of read_ndjson_robust."""
    import socket as socketlib
    import threading
    import time

    from twitter_etl_spark.sources import read_socket_stream

    srv = socketlib.socket(socketlib.AF_INET, socketlib.SOCK_STREAM)
    srv.setsockopt(socketlib.SOL_SOCKET, socketlib.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    stop = threading.Event()

    def _serve():
        try:
            conn, _ = srv.accept()
        except OSError:
            return
        i = 0
        try:
            while not stop.is_set():
                lines = []
                for _ in range(20):
                    lines.append(json.dumps({
                        "doc_id": i,
                        "text": "hola mundo numero %d" % i,
                        "lang": "es",
                        "source": "src%d" % (i % 3),
                        "n_chars": 18,
                    }))
                    i += 1
                lines.append("{ this is not json")  # -> quarantine
                conn.sendall(("\n".join(lines) + "\n").encode())
                time.sleep(0.4)
        except OSError:
            pass
        finally:
            conn.close()

    threading.Thread(target=_serve, daemon=True).start()

    batches: list[int] = []
    rows: list = []

    def _sink(bdf, bid):
        got = bdf.collect()
        if got:
            batches.append(bid)
            rows.extend(got)

    q = (
        read_socket_stream(spark, "127.0.0.1", port)
        .writeStream.foreachBatch(_sink)
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 90
    try:
        while len(set(batches)) < 2 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
        stop.set()
        srv.close()

    assert len(set(batches)) >= 2  # two live micro-batches consumed
    good = [r for r in rows if r["doc_id"] is not None]
    bad = [r for r in rows if r["doc_id"] is None]
    assert good and good[0]["text"].startswith("hola mundo")
    assert good[0]["_raw"].startswith("{")  # raw line always kept
    assert bad and bad[0]["_raw"].startswith("{ this is not json")


@pytest.mark.slow
def test_tws_inactivity_timer_flushes_quiet_user(spark):
    """Processing-time timers + ListState (transformWithStateInPandas):
    user 1's buffered values flush on the run AFTER their inactivity
    timeout passes, triggered purely by the timer — the second batch
    contains no user-1 input."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    pytest.importorskip("google.protobuf.descriptor")
    import time as _time

    from twitter_etl_spark.streaming.tws import inactivity_flush

    base = tempfile.mkdtemp()
    d, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    os.makedirs(d)

    def ev(i, user, v):
        return {"event_id": i, "ts": "2024-01-01T00:00:0%d" % (i % 10),
                "user_id": user, "event_type": "view", "value": v}

    def run():
        q = (
            inactivity_flush(_events_stream(spark, d), timeout_ms=1500)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with open(os.path.join(d, "f1.json"), "w") as f:
        for r in [ev(1, 1, 10.0), ev(2, 1, 5.0), ev(3, 1, 1.5)]:
            f.write(json.dumps(r) + "\n")
    run()  # buffers user 1, arms their timer; no flush yet

    _time.sleep(2.5)  # let user 1's 1.5 s inactivity timeout expire
    with open(os.path.join(d, "f2.json"), "w") as f:
        f.write(json.dumps(ev(4, 2, 7.0)) + "\n")  # batch driver only
    run()  # user 1's expired timer fires during this batch

    rows = spark.read.parquet(sink).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1 flushed exactly once, by the timer: the flushing batch
    # (f2.json) contained no user-1 input
    assert len(by_user[1]) == 1
    assert (by_user[1][0]["n_flushed"], by_user[1][0]["total_value"]) == (3, 16.5)
    # user 2's flush timing is environment-dependent (a slow
    # availableNow run can outlive their 1.5 s timer inside run 2) —
    # but IF they flushed, the buffer math must hold
    for r in by_user.get(2, []):
        assert (r["n_flushed"], r["total_value"]) == (1, 7.0)


def test_streaming_rollup_maintenance(spark):
    """foreachBatch-driven materialized-view upkeep: two landed
    chunks absorbed by update_rollup must yield the same per-lang
    stats as a one-shot aggregate of all documents, with one
    published version per non-empty batch and checkpointed progress
    (re-running with no new files publishes nothing)."""
    import pyspark.sql.functions as F

    from twitter_etl_spark.rollup import read_rollup
    from twitter_etl_spark.sources import read_ndjson
    from twitter_etl_spark.streaming.microbatch import run_streaming_rollup

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    rollup = os.path.join(base, "rollup")
    ckpt = os.path.join(base, "ckpt")

    _write_landing_file(
        landing,
        "stream_20240101_000000.json",
        [_doc(1, "hola mundo"), _doc(2, "otra frase"), _doc(3, "hi there", lang="en")],
    )
    run_streaming_rollup(spark, landing, rollup, ckpt)
    _write_landing_file(
        landing,
        "stream_20240101_000100.json",
        [_doc(4, "mas texto aqui"), _doc(5, "more english words", lang="en")],
    )
    run_streaming_rollup(spark, landing, rollup, ckpt)
    # no new files -> no new version
    run_streaming_rollup(spark, landing, rollup, ckpt)
    versions = sorted(p for p in os.listdir(rollup) if p.startswith("v="))
    assert versions == ["v=1", "v=2"]

    got = {r["lang"]: r for r in read_rollup(spark, rollup).collect()}
    want = {
        r["lang"]: r
        for r in read_ndjson(spark, landing)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.sum("n_chars") / F.count(F.lit(1)), 4).alias("avg_chars"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for lang in want:
        for c in ("n_docs", "sum_chars", "min_chars", "max_chars", "avg_chars"):
            assert got[lang][c] == want[lang][c], (lang, c)


def test_streaming_rollup_skips_replayed_batch(spark):
    """A batch the checkpoint replays (its commit file lost after the
    rollup published it) is not absorbed twice: the replay publishes
    no version and the rows stay those of one pass over both files."""
    from twitter_etl_spark.rollup import read_rollup
    from twitter_etl_spark.streaming.microbatch import run_streaming_rollup

    base = tempfile.mkdtemp()
    landing, rollup, ckpt = (os.path.join(base, n) for n in ("landing", "rollup", "ckpt"))
    _write_landing_file(landing, "stream_1.json", [_doc(1, "a" * 10)])
    _write_landing_file(landing, "stream_2.json", [_doc(2, "b" * 10)])
    first = os.path.join(landing, "stream_1.json")
    os.utime(first, (os.path.getmtime(first) - 10,) * 2)

    def state():
        versions = sorted(p for p in os.listdir(rollup) if p.startswith("v="))
        return versions, sorted(map(tuple, read_rollup(spark, rollup).collect()))

    run_streaming_rollup(spark, landing, rollup, ckpt)
    before = state()
    assert before == (["v=1", "v=2"], [("es", 2, 20, 10, 10, 10.0)])
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    q = run_streaming_rollup(spark, landing, rollup, ckpt)
    assert [p.batchId for p in q.recentProgress] == [1]  # batch 1 replayed
    assert state() == before


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager(session, path: str):
    """The JVM ``CheckpointFileManager`` a stream of ``session`` would
    use for ``path``."""
    jvm = session._jvm
    conf = session._jsparkSession.sessionState().newHadoopConf()
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return managers.CheckpointFileManager.create(jvm.org.apache.hadoop.fs.Path(path), conf)


def _assert_no_overwrite_commit(session, manager) -> None:
    """A second ``createAtomic(p, overwriteIfPossible=False)`` of an
    existing log file fails on ``close()``, and ``p`` keeps its first
    bytes."""
    from py4j.protocol import Py4JJavaError

    path = os.path.join(tempfile.mkdtemp(), "0")
    p = session._jvm.org.apache.hadoop.fs.Path(path)
    out = manager.createAtomic(p, False)
    out.write(bytearray(b"first"))
    out.close()
    again = manager.createAtomic(p, False)
    again.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError, match="already exists"):
        again.close()
    with open(path, "rb") as f:
        assert f.read() == b"first"


def test_checkpoint_manager_keeps_no_overwrite_commit(spark):
    """A ``get_spark`` session on a ``file:`` default filesystem writes
    checkpoints through the FileSystem-based manager, and that manager
    keeps the log's commit contract, as Spark's default manager does.
    ``tune_for_session`` leaves Spark's default manager alone."""
    from twitter_etl_spark.session import LOCAL_CHECKPOINT_MANAGER, tune_for_session

    assert spark.conf.get(_MANAGER_KEY) == LOCAL_CHECKPOINT_MANAGER
    manager = _checkpoint_manager(spark, tempfile.mkdtemp())
    assert manager.getClass().getName() == LOCAL_CHECKPOINT_MANAGER
    _assert_no_overwrite_commit(spark, manager)

    tuned = tune_for_session(spark.newSession())
    assert tuned.conf.get(_MANAGER_KEY, None) is None
    default = _checkpoint_manager(tuned, tempfile.mkdtemp())
    assert default.getClass().getSimpleName() == "FileContextBasedCheckpointFileManager"
    _assert_no_overwrite_commit(tuned, default)


def test_default_manager_checkpoint_resumes_under_local_manager(spark):
    """A checkpoint written under Spark's default (FileContext) manager
    resumes under the ``get_spark`` session's manager: only the newly
    landed file is processed, and the sink holds the per-file transform
    of both files."""
    from twitter_etl_spark.sources import read_ndjson
    from twitter_etl_spark.streaming.microbatch import transform_batch

    old = spark.newSession()  # no checkpoint manager class set
    assert old.conf.get(_MANAGER_KEY, None) is None
    base, landing = _two_file_landing()
    second = os.path.join(landing, "stream_2.json")
    held = os.path.join(base, "stream_2.json")
    os.rename(second, held)
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    q = run_microbatch_pipeline(old, landing, sink, ckpt)
    assert [p.batchId for p in q.recentProgress] == [0]

    os.rename(held, second)
    q = run_microbatch_pipeline(spark, landing, sink, ckpt)
    assert [p.batchId for p in q.recentProgress] == [1]
    with open(os.path.join(ckpt, "sources", "0", "1")) as f:
        logged = [json.loads(line)["path"] for line in f.read().splitlines()[1:]]
    assert [os.path.basename(p) for p in logged] == ["stream_2.json"]
    want = Counter()
    for f in sorted(os.listdir(landing)):
        want += _rows(transform_batch(read_ndjson(spark, os.path.join(landing, f))))
    assert _rows(spark.read.parquet(sink)) == want


def test_python_streaming_datasource_offsets_exactly_once(spark):
    """The Python streaming connector (Spark 4 simpleStreamReader):
    micro-batches advance by offset with NO duplicated and NO
    skipped documents — ids across all batches are the contiguous
    prefix 0..N-1, each batch exactly batch_rows. Replayability from
    any offset (readBetweenOffsets regenerates deterministically) is
    what makes checkpoint recovery safe for this source."""
    import time

    from twitter_etl_spark.datasource import register

    register(spark)
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("batch_rows", 25)
        .load()
    )
    got = []

    def sink(df, bid):
        got.append([r["doc_id"] for r in df.select("doc_id").collect()])

    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 30
    while time.time() < deadline and len(got) < 3:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(20)
    assert len(got) >= 3
    all_ids = [i for batch in got for i in batch]
    assert all(len(b) == 25 for b in got[:3])
    assert sorted(all_ids) == list(range(len(all_ids)))  # no dup, no gap


@pytest.mark.slow
def test_statestore_reader_inspects_checkpoint_state(spark):
    """Operational state inspection (Spark 4 state data source):
    after a stateful streaming aggregation, the checkpoint's state
    store is READABLE as a DataFrame — per-key aggregate state
    matches what the query maintains. This is how a 100 TB streaming
    deployment debugs watermark/state-size incidents without
    instrumenting the job itself."""
    import json
    import os
    import tempfile

    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    base = tempfile.mkdtemp()
    landing, ckpt = f"{base}/l", f"{base}/c"
    os.makedirs(landing)
    with open(f"{landing}/a.json", "w") as f:
        for i in range(20):
            f.write(
                json.dumps(
                    {
                        "event_id": i,
                        "ts": f"2024-01-01 10:{i:02d}:00",
                        "user_id": i % 3,
                        "event_type": "click",
                        "value": 1.0,
                        "props": "{}",
                    }
                )
                + "\n"
            )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .json(landing)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    st = spark.read.format("statestore").load(ckpt)
    # state value column is the internal aggregate name ("count")
    rows = {r["key"]["user_id"]: r["value"]["count"] for r in st.collect()}
    assert rows == {0: 7, 1: 7, 2: 6}  # 20 events round-robin over 3 users
    meta = spark.read.format("state-metadata").load(ckpt)
    assert meta.count() >= 1  # operator metadata surfaced too


def test_windowed_distinct_users_stream(spark, events_dir):
    """Streaming DAU shape: HLL-state distinct users per tumbling
    window — at fixture cardinality (2 users) the 1%-rsd sketch is
    exact, and the duplicate event inflates n_events but not
    n_active."""
    from twitter_etl_spark.streaming import windowed_distinct_users

    out = _run_to_memory(
        spark,
        windowed_distinct_users(_events_stream(spark, events_dir)),
        "t_dau",
        "complete",
    ).collect()
    by_w = {
        (r["window_start"].hour, r["window_start"].minute): r for r in out
    }
    # 00:00 window: users 1 and 2 active (events 1, 2, 5, 5dup)
    assert by_w[(0, 0)]["n_active"] == 2
    assert by_w[(0, 0)]["n_events"] == 4
    # 00:10 and 01:00 windows: user 1 only
    assert by_w[(0, 10)]["n_active"] == 1
    assert by_w[(1, 0)]["n_active"] == 1


def test_windowed_countmin_stream(spark, events_dir):
    """Streaming count-min: cells are bounded (≤ depth × width per
    window), sum to the window's event count on every depth row,
    and probing user 1's buckets in the 00:00 window recovers an
    estimate ≥ its true count (one-sided error, same hash family as
    the batch sketch)."""
    import hashlib

    from twitter_etl_spark.streaming import windowed_countmin

    out = _run_to_memory(
        spark,
        windowed_countmin(_events_stream(spark, events_dir)),
        "t_cm",
        "complete",
    ).collect()
    zero = [r for r in out if r["window_start"].minute == 0
            and r["window_start"].hour == 0]
    assert len(zero) <= 3 * 16
    for i in range(3):
        assert sum(r["cell"] for r in zero if r["i"] == i) == 4
    cells = {(r["i"], r["bucket"]): r["cell"] for r in zero}

    def bucket(i, k):
        return int(hashlib.md5(f"{i}:{k}".encode()).hexdigest()[:15], 16) % 16

    est = min(cells.get((i, bucket(i, "1")), 0) for i in range(3))
    assert est >= 2  # user 1 has 2 events in the 00:00 window


def test_windowed_hll_registers_match_batch_sketch(spark, events_dir):
    """End-to-end certifiable-sketch handoff: register rows emitted
    by the STREAM for the 00:00 window must equal the registers the
    BATCH sketch computes over the same rows — the property that
    lets a streaming job feed rollup.update_register_rollup and a
    reader get q_agg_hll_md5's exact estimate."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.sketches import hll_register_rows
    from twitter_etl_spark.streaming import windowed_hll_registers

    out = _run_to_memory(
        spark,
        windowed_hll_registers(_events_stream(spark, events_dir)),
        "t_hllreg",
        "complete",
    ).collect()
    got = {
        (r["j"], r["m_j"])
        for r in out
        if r["window_start"].hour == 0 and r["window_start"].minute == 0
    }
    batch = spark.createDataFrame(
        [(1,), (1,), (2,), (2,)], "user_id long"  # events 1,2,5,5dup
    )
    want = {
        (r["j"], r["m"])
        for r in hll_register_rows(batch, "user_id")
        .groupBy("j")
        .agg(F.max("rho").alias("m"))
        .collect()
    }
    assert got == want


@pytest.mark.slow
def test_stream_feeds_register_rollup_matches_one_shot(spark):
    """r8 verdict #7 — the asserted-but-never-executed handoff, now
    executed end-to-end: an availableNow foreachBatch loop absorbs
    each micro-batch into rollup.update_register_rollup, and the
    rollup READ-BACK estimate equals the one-shot certifiable HLL
    (q_agg_hll_md5's estimator via the shared helpers) over the
    union of all batches. maxFilesPerTrigger=1 forces one
    micro-batch per landing file so the merge path (max per
    (event_type, j) across versions) is genuinely exercised."""
    from pyspark.sql import types as T

    from twitter_etl_spark import rollup
    from twitter_etl_spark.queries.sketches import (
        hll_estimate_registers,
        hll_register_rows,
    )

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    rollup_dir = os.path.join(base, "hll_rollup")
    os.makedirs(landing)

    def _file(name, rows):
        with open(os.path.join(landing, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def _ev(i, user, etype):
        return {
            "event_id": i,
            "ts": f"2024-01-01T00:{i:02d}:00",
            "user_id": user,
            "event_type": etype,
            "value": 1.0,
        }

    _file("b1.json", [_ev(1, 1, "click"), _ev(2, 2, "click"), _ev(3, 1, "view")])
    _file("b2.json", [_ev(4, 2, "click"), _ev(5, 3, "click"), _ev(6, 4, "view")])
    _file("b3.json", [_ev(7, 5, "click"), _ev(8, 1, "click"), _ev(9, 4, "view")])

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    versions = []

    def _absorb(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        versions.append(rollup.update_register_rollup(spark, rollup_dir, batch_df))

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(versions) == 3  # one rollup publish per micro-batch

    got = {
        (r["event_type"], r["hll_est"])
        for r in rollup.read_register_rollup(spark, rollup_dir).collect()
    }
    union = spark.read.schema(schema).json(landing)
    regs = (
        hll_register_rows(union, "user_id", "event_type")
        .groupBy("event_type", "j")
        .agg(F.max("rho").alias("m_j"))
    )
    want = {
        (r["event_type"], r["hll_est"])
        for r in hll_estimate_registers(spark, regs, "event_type").collect()
    }
    assert got == want and got  # exact equality, not tolerance


@pytest.mark.slow
def test_session_window_append_mode_emits_closed_sessions(spark):
    """r8 verdict #9 — the streaming session_window executed with
    WATERMARK semantics (the existing complete-mode test never
    exercises emission timing): in append mode a session row emits
    only once the watermark (max event time − 1 h) passes the
    session's close. Three single-file micro-batches advance the
    watermark stepwise; the first batch's sessions must be emitted
    by the run's end, while the final straggler's session — still
    inside the watermark — must NOT."""
    from pyspark.sql import types as T

    from twitter_etl_spark.streaming import sessionized_stream

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    os.makedirs(landing)
    rows1 = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:04:00", "user_id": 1, "event_type": "view", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01T00:11:00", "user_id": 1, "event_type": "click", "value": 3.0},
        {"event_id": 4, "ts": "2024-01-01T00:02:00", "user_id": 2, "event_type": "view", "value": 5.0},
    ]
    rows2 = [{"event_id": 5, "ts": "2024-01-01T03:00:00", "user_id": 3, "event_type": "click", "value": 1.0}]
    rows3 = [{"event_id": 6, "ts": "2024-01-01T06:00:00", "user_id": 4, "event_type": "click", "value": 1.0}]
    for name, rows in (("f1.json", rows1), ("f2.json", rows2), ("f3.json", rows3)):
        with open(os.path.join(landing, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
    )
    q = (
        sessionized_stream(stream)
        .writeStream.format("memory")
        .queryName("t_sess_append")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM t_sess_append").collect()
    emitted = {(r["user_id"], r["n_events"]) for r in out}
    # batch-1 sessions closed well before the 05:00 watermark: both emit
    assert (1, 3) in emitted
    assert (2, 1) in emitted
    # the 06:00 straggler's session is still open w.r.t. the final
    # watermark — append mode must NOT have emitted it
    assert all(r["user_id"] != 4 for r in out)


@pytest.mark.slow
def test_stream_feeds_kmv_rollup_matches_one_shot(spark):
    """The KMV edition of the stream→rollup handoff: an availableNow
    foreachBatch loop absorbs each micro-batch into
    rollup.update_kmv_rollup (k-min trim per publish), and the
    read-back estimate equals the one-shot certifiable KMV
    (q_agg_kmv_distinct's estimator via the shared helpers) over the
    union of all batches — the lossless k-min merge exercised across
    genuine micro-batch boundaries, completing the streaming story
    for the third distinct-sketch geometry (HLL registers r9, k-min
    values here)."""
    from pyspark.sql import types as T

    from twitter_etl_spark import rollup
    from twitter_etl_spark.queries.sketches import (
        kmv_estimate,
        kmv_hash_rows,
    )

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    rollup_dir = os.path.join(base, "kmv_rollup")
    os.makedirs(landing)

    def _file(name, rows):
        with open(os.path.join(landing, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def _ev(i, user, etype):
        return {
            "event_id": i,
            "ts": f"2024-01-01T00:{i:02d}:00",
            "user_id": user,
            "event_type": etype,
            "value": 1.0,
        }

    # 70 distinct click users across 3 batches (> k=64 so the
    # estimator branch and the k-truncation path are both real),
    # plus a small view audience that stays on the exact branch
    _file("b1.json", [_ev(i, i, "click") for i in range(1, 31)])
    _file(
        "b2.json",
        [_ev(100 + i, 20 + i, "click") for i in range(1, 31)]
        + [_ev(200, 1, "view"), _ev(201, 2, "view")],
    )
    _file("b3.json", [_ev(300 + i, 50 + i, "click") for i in range(1, 21)])

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    versions = []

    def _absorb(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        versions.append(rollup.update_kmv_rollup(spark, rollup_dir, batch_df))

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(versions) == 3

    got = {
        (r["event_type"], r["n_state"], r["kmv_est"])
        for r in rollup.read_kmv_rollup(spark, rollup_dir).collect()
    }
    union = spark.read.schema(schema).json(landing)
    want = {
        (r["event_type"], r["n_state"], r["kmv_est"])
        for r in kmv_estimate(
            kmv_hash_rows(union, "user_id", "event_type"), "event_type"
        ).collect()
    }
    assert got == want
    est = {t: e for t, n, e in got}
    assert est["view"] == 2.0  # exact branch
    assert est["click"] != 70.0  # estimator branch genuinely estimates


@pytest.mark.slow
def test_tws_kmv_sketch_equals_batch_estimator(spark):
    """Bounded-state streaming KMV: after two checkpointed
    availableNow runs, the latest per-type emission must equal the
    batch estimator over the union of all ingested events — the
    O(k)-per-key in-stream form of the sketch (ListState k-min,
    lossless micro-batch merge), with >k distinct click users so
    the estimator branch and the k-trim are both real."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    pytest.importorskip("google.protobuf.descriptor")
    from twitter_etl_spark.queries.sketches import (
        kmv_estimate,
        kmv_hash_rows,
    )
    from twitter_etl_spark.streaming.tws import running_kmv_distinct

    base = tempfile.mkdtemp()
    d, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    os.makedirs(d)

    def ev(i, user, typ):
        return {
            "event_id": i,
            "ts": "2024-01-01T00:00:0%d" % (i % 10),
            "user_id": user,
            "event_type": typ,
            "value": 1.0,
        }

    def run():
        q = (
            running_kmv_distinct(_events_stream(spark, d))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink).collect()

    with open(os.path.join(d, "f1.json"), "w") as f:
        for r in [ev(i, i, "click") for i in range(1, 41)] + [
            ev(100, 1, "view")
        ]:
            f.write(json.dumps(r) + "\n")
    run()
    with open(os.path.join(d, "f2.json"), "w") as f:
        for r in [ev(200 + i, 30 + i, "click") for i in range(1, 41)] + [
            ev(300, 2, "view")
        ]:
            f.write(json.dumps(r) + "\n")
    rows = run()
    latest = {}
    for r in rows:  # append mode: keep the largest state per type
        if r["event_type"] not in latest or r["n_state"] >= latest[
            r["event_type"]
        ]["n_state"]:
            latest[r["event_type"]] = r
    union = spark.read.json(os.path.join(d, "*.json")).selectExpr(
        "CAST(user_id AS LONG) user_id", "event_type"
    )
    want = {
        r["event_type"]: (r["n_state"], r["kmv_est"])
        for r in kmv_estimate(
            kmv_hash_rows(union, "user_id", "event_type"), "event_type"
        ).collect()
    }
    got = {t: (r["n_state"], r["kmv_est"]) for t, r in latest.items()}
    assert got == want
    assert got["view"][0] == 2  # exact branch
    from twitter_etl_spark.queries.sketches import _KMV_K

    assert got["click"][0] == _KMV_K  # trimmed at k, estimator branch


@pytest.mark.slow
def test_windowed_revenue_cents_feeds_changepoint(spark):
    """Stream==batch input equality for the retrospective
    change-point: daily cents panes streamed in two checkpointed
    availableNow runs must equal the batch fixed-point daily frame
    over the union of ingested events, and feeding the streamed
    panes into changepoint_from_daily must reproduce the batch
    split exactly (the r10 verdict's 'streaming parity for the
    change-point input')."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.timeseries import changepoint_from_daily
    from twitter_etl_spark.streaming import windowed_revenue_cents

    base = tempfile.mkdtemp()
    d, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    os.makedirs(d)

    def ev(i, day, value):
        return {
            "event_id": i,
            "ts": "2024-01-%02dT05:00:00" % day,
            "user_id": i,
            "event_type": "purchase",
            "value": value,
        }

    def run():
        q = (
            windowed_revenue_cents(_events_stream(spark, d))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # 20 days (>= 2 * _CP_MIN_SEG), a level shift after day 10;
    # values with cents parts that float summation would drift on
    # (the fixed-point stress)
    with open(os.path.join(d, "f1.json"), "w") as f:
        for i in range(1, 11):
            f.write(json.dumps(ev(i, i, 10.01 + i * 0.07)) + "\n")
    run()
    with open(os.path.join(d, "f2.json"), "w") as f:
        for i in range(11, 21):
            f.write(json.dumps(ev(i, i, 90.05 + i * 0.11)) + "\n")
    run()
    # append mode emits a day only once the watermark passes its
    # end; a sentinel event on day 28 closes day 20, and its own
    # (never-closed) day is excluded from the comparison
    with open(os.path.join(d, "f3.json"), "w") as f:
        f.write(json.dumps(ev(999, 28, 1.0)) + "\n")
    run()
    streamed = (
        spark.read.parquet(sink)
        .filter(F.col("day") <= "2024-01-20")
        .select("day", "rev_c")
    )
    # batch twin: same decimal(18,2)*100 fixed-point per day
    union = spark.read.json(os.path.join(d, "f1.json")).unionAll(
        spark.read.json(os.path.join(d, "f2.json"))
    ).select(
        F.to_date(F.date_trunc("day", F.col("ts").cast("timestamp"))).alias("day"),
        F.col("value").cast("double").alias("value"),
    )
    batch = union.groupBy("day").agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("rev_c")
    )
    got = {(str(r["day"]), r["rev_c"]) for r in streamed.collect()}
    want = {(str(r["day"]), r["rev_c"]) for r in batch.collect()}
    assert got == want and len(want) == 20
    # retrospective handoff: the streamed panes ARE the change-point
    # input; the split must land at the day-6/7 level shift
    cp = changepoint_from_daily(streamed).collect()
    assert len(cp) == 1
    assert cp[0]["split_day"] == "2024-01-10"
    cp_batch = changepoint_from_daily(batch).collect()
    assert [tuple(r) for r in cp] == [tuple(r) for r in cp_batch]


@pytest.mark.slow
def test_windowed_kmv_panes_match_batch_and_sliding_merge(spark):
    """Stream==batch pane equality for the sliding-KMV estimator:
    each day's LATEST streamed k-min pane (max seq per day) must
    equal the batch per-day pane over the union of ingested events,
    and the 7-day trailing merge of the streamed panes must equal
    the merge of the batch panes — the lossless k-min union that
    makes q_ts_sliding_distinct_kmv's estimator stream-feedable."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.sketches import _KMV_K, kmv_hash_rows
    from twitter_etl_spark.streaming.tws import windowed_kmv_panes

    base = tempfile.mkdtemp()
    d, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    os.makedirs(d)

    def ev(i, day, user):
        return {
            "event_id": i,
            "ts": "2024-01-%02dT03:00:00" % day,
            "user_id": user,
            "event_type": "click",
            "value": 1.0,
        }

    def run():
        q = (
            windowed_kmv_panes(_events_stream(spark, d))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # 3 days; day 1 gets > _KMV_K distinct users ACROSS the two
    # micro-batches so the k-trim and the cross-batch k-min union
    # are both exercised (not just the exact branch)
    with open(os.path.join(d, "f1.json"), "w") as f:
        for i in range(_KMV_K):
            f.write(json.dumps(ev(i, 1, 1000 + i)) + "\n")
        for i in range(5):
            f.write(json.dumps(ev(500 + i, 2, 2000 + i)) + "\n")
    run()
    with open(os.path.join(d, "f2.json"), "w") as f:
        for i in range(_KMV_K):
            f.write(json.dumps(ev(700 + i, 1, 3000 + i)) + "\n")
        for i in range(4):
            f.write(json.dumps(ev(900 + i, 3, 4000 + i)) + "\n")
    run()

    streamed = spark.read.parquet(sink)
    last_seq = streamed.groupBy("day").agg(F.max("seq").alias("seq"))
    panes = streamed.join(last_seq, ["day", "seq"]).select("day", "h")

    union = spark.read.json(os.path.join(d, "*.json")).select(
        F.date_format(
            F.date_trunc("day", F.col("ts").cast("timestamp")), "yyyy-MM-dd"
        ).alias("day"),
        F.col("user_id").cast("long").alias("user_id"),
    )
    wd = Window.partitionBy("day").orderBy("h")
    batch_panes = (
        kmv_hash_rows(union, "user_id", "day")
        .select("day", "h", F.row_number().over(wd).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
        .select("day", "h")
    )
    got = {(r["day"], r["h"]) for r in panes.collect()}
    want = {(r["day"], r["h"]) for r in batch_panes.collect()}
    assert got == want
    # day 1 saw 2k distinct users across batches: trimmed at k
    from collections import Counter

    per_day = Counter(day for day, _ in got)
    assert per_day["2024-01-01"] == _KMV_K
    assert per_day["2024-01-03"] == 4  # exact branch preserved

    # trailing 7-day merged k-min over streamed panes == over batch
    # panes (lossless union: identical sets in, identical sets out)
    def merged(p):
        return {
            (r["anchor"], r["h"])
            for r in p.select(
                "h",
                F.explode(
                    F.sequence(
                        F.to_date("day"), F.date_add(F.to_date("day"), 6)
                    )
                ).alias("anchor"),
            )
            .select("anchor", "h")
            .distinct()
            .collect()
        }

    assert merged(panes) == merged(batch_panes)


@pytest.mark.slow
def test_bottomk_sample_pane_matches_batch_sketch(spark):
    """Stream==batch pane equality for the quantile sample: each
    event type's LATEST streamed bottom-k (h, value) pane must equal
    the batch sample q_agg_quantile_bottomk takes over the union of
    ingested events — identical sample in, identical discrete
    percentiles out, so the streaming job maintains the quantile
    sketch with O(k) state per type."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import Window

    from twitter_etl_spark.queries.sketches import _BK_K
    from twitter_etl_spark.streaming.tws import running_bottomk_sample

    base = tempfile.mkdtemp()
    d, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    os.makedirs(d)

    def ev(i, typ, value):
        return {
            "event_id": i,
            "ts": "2024-01-01T00:00:0%d" % (i % 10),
            "user_id": i,
            "event_type": typ,
            "value": value,
        }

    def run():
        q = (
            running_bottomk_sample(_events_stream(spark, d))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # 'click' gets > _BK_K rows ACROSS batches (trim + cross-batch
    # merge both real); 'view' stays tiny (pane == all rows)
    half = _BK_K // 2 + 20
    with open(os.path.join(d, "f1.json"), "w") as f:
        for i in range(half):
            f.write(json.dumps(ev(i, "click", 10.0 + i)) + "\n")
        f.write(json.dumps(ev(9001, "view", 1.5)) + "\n")
    run()
    with open(os.path.join(d, "f2.json"), "w") as f:
        for i in range(half, 2 * half):
            f.write(json.dumps(ev(i, "click", 10.0 + i)) + "\n")
        f.write(json.dumps(ev(9002, "view", 2.5)) + "\n")
    run()

    streamed = spark.read.parquet(sink)
    last = streamed.groupBy("event_type").agg(F.max("seq").alias("seq"))
    pane = streamed.join(last, ["event_type", "seq"]).select(
        "event_type", "h", "value"
    )
    union = spark.read.json(os.path.join(d, "*.json")).select(
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("h"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    batch = (
        union.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BK_K)
        .select("event_type", "h", "value")
    )
    got = {(r["event_type"], r["h"], r["value"]) for r in pane.collect()}
    want = {(r["event_type"], r["h"], r["value"]) for r in batch.collect()}
    assert got == want
    from collections import Counter

    per_type = Counter(t for t, _, _ in got)
    assert per_type["click"] == _BK_K  # trimmed at k across batches
    assert per_type["view"] == 2  # exact below k


@pytest.mark.slow
def test_stream_probes_persisted_ivfpq_index_matches_batch(spark):
    """Serving-path twin of the stream==batch sketch pins (r11
    verdict #8): a foreachBatch micro-batch loop of QUERY vectors
    probes the materialized IVF-PQ index (probe_ivfpq_index inside
    the batch fn — partition- and column-pruned reads, exactly what
    an online ANN service runs per request batch), appending each
    probe's top-k to a parquet sink. The accumulated sink must be
    row-identical to batch probes of the same vectors against the
    same index — the stream adds delivery, never changes answers.
    maxFilesPerTrigger=1 forces one micro-batch per landing file so
    multi-batch accumulation is genuinely exercised."""
    from pyspark.sql import types as T

    from twitter_etl_spark.index import build_ivfpq_index, probe_ivfpq_index
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    base = tempfile.mkdtemp()
    idx = os.path.join(base, "ivfpq")
    landing = os.path.join(base, "queries")
    sink = os.path.join(base, "hits")
    os.makedirs(landing)
    build_ivfpq_index(spark, sf, idx, k=8, iters=2)

    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in table(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 4)
        .collect()
    }
    items = sorted(qvecs.items())
    for fname, chunk in (("b1.json", items[:2]), ("b2.json", items[2:])):
        with open(os.path.join(landing, fname), "w") as f:
            for qid, vec in chunk:
                f.write(json.dumps({"query_id": qid, "qv": vec}) + "\n")

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("qv", T.ArrayType(T.DoubleType())),
        ]
    )

    def _probe_batch(batch_df, batch_id):
        # a serving request batch is small; the per-query probe is
        # the partition-pruned Spark job, so collecting the REQUEST
        # rows driver-side is the bounded step, not a data scan
        for row in batch_df.collect():
            hits = probe_ivfpq_index(
                spark, idx, list(row["qv"]), nprobe=2, topk=5, shortlist=20
            ).withColumn("query_id", F.lit(row["query_id"]))
            hits.write.mode("append").parquet(sink)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .writeStream.foreachBatch(_probe_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r["query_id"], r["vec_id"], r["pq_score"], r["cos_sim"])
        for r in spark.read.parquet(sink).collect()
    )
    want = sorted(
        (qid, r["vec_id"], r["pq_score"], r["cos_sim"])
        for qid, vec in items
        for r in probe_ivfpq_index(
            spark, idx, vec, nprobe=2, topk=5, shortlist=20
        ).collect()
    )
    assert got == want
    assert len(got) == 4 * 5  # every query delivered its full top-k


@pytest.mark.slow
def test_stream_feeds_semdedup_rollup_matches_one_shot(spark):
    """The embedding edition of the stream→rollup handoff: an
    availableNow foreachBatch loop absorbs each micro-batch of
    embeddings into rollup.update_semdedup_rollup (one publish per
    landing file via maxFilesPerTrigger=1), and the keep-list
    regenerated from the persisted state alone equals the one-shot
    q_dedup_semantic over the union — the crawler's steady-state
    semantic-dedup loop, exercised across genuine micro-batch
    boundaries."""
    from pyspark.sql import types as T

    from twitter_etl_spark import rollup
    from twitter_etl_spark.queries.similarity import q_dedup_semantic
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    rollup_dir = os.path.join(base, "sd_rollup")
    os.makedirs(landing)

    vecs = table(spark, sf, "embeddings").collect()
    thirds = [vecs[0::3], vecs[1::3], vecs[2::3]]
    for n, chunk in enumerate(thirds):
        with open(os.path.join(landing, f"b{n}.json"), "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "vec_id": int(r["vec_id"]),
                            "embedding": [float(x) for x in r["embedding"]],
                            "label": int(r["label"]),
                        }
                    )
                    + "\n"
                )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    versions = []

    def _absorb(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        versions.append(
            rollup.update_semdedup_rollup(spark, rollup_dir, batch_df)
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(versions) == 3  # one rollup publish per micro-batch

    got = sorted(
        (r["vec_id"], r["label"], r["kept"])
        for r in rollup.semdedup_rollup_keeplist(spark, rollup_dir).collect()
    )
    want = sorted(
        (r["vec_id"], r["label"], r["kept"])
        for r in q_dedup_semantic(spark, sf).collect()
    )
    assert got == want
    assert any(k == 0 for _, _, k in got)  # non-vacuous


@pytest.mark.slow
def test_stream_feeds_adaptive_semdedup_rollup_matches_one_shot(spark):
    """The occupancy-ADAPTIVE twin of the stream→rollup handoff
    above (r13 verdict #7): an availableNow foreachBatch loop
    absorbs embedding micro-batches into
    rollup.update_semdedup_adaptive_rollup, and the keep-list
    regenerated from the persisted (vector, signature) state — with
    the refinement ladder re-derived from CURRENT occupancies —
    equals the one-shot q_dedup_semantic_adaptive over the union."""
    from pyspark.sql import types as T

    from twitter_etl_spark import rollup
    from twitter_etl_spark.queries.similarity import (
        q_dedup_semantic_adaptive,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    rollup_dir = os.path.join(base, "sda_rollup")
    os.makedirs(landing)

    vecs = table(spark, sf, "embeddings").collect()
    thirds = [vecs[0::3], vecs[1::3], vecs[2::3]]
    for n, chunk in enumerate(thirds):
        with open(os.path.join(landing, f"b{n}.json"), "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "vec_id": int(r["vec_id"]),
                            "embedding": [float(x) for x in r["embedding"]],
                            "label": int(r["label"]),
                        }
                    )
                    + "\n"
                )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    versions = []

    def _absorb(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        versions.append(
            rollup.update_semdedup_adaptive_rollup(spark, rollup_dir, batch_df)
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(versions) == 3  # one rollup publish per micro-batch

    got = sorted(
        (r["vec_id"], r["label"], r["kept"])
        for r in rollup.semdedup_adaptive_keeplist(spark, rollup_dir).collect()
    )
    want = sorted(
        (r["vec_id"], r["label"], r["kept"])
        for r in q_dedup_semantic_adaptive(spark, sf).collect()
    )
    assert got == want
    assert any(k == 0 for _, _, k in got)  # non-vacuous


@pytest.mark.slow
def test_stream_feeds_drift_rollup_matches_one_shot(spark):
    """Streaming drift monitoring: an availableNow foreachBatch loop
    absorbs each landed document micro-batch into
    rollup.update_drift_rollup (one publish per landing file), and
    the finalized PSI report from the persisted counts equals the
    one-shot report over the union of all batches — the stream ≡
    batch contract extended to the r12 drift family."""
    from pyspark.sql import types as T

    from twitter_etl_spark import rollup
    from twitter_etl_spark.queries.dq import drift_counts, psi_report

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    rollup_dir = os.path.join(base, "drift_rollup")
    os.makedirs(landing)

    def _doc(i):
        return {
            "doc_id": i,
            "lang": ["en", "es", "de"][i % 3],
            "source": f"src{i % 5}",
            "n_chars": 40 + (i * 37) % 300,
        }

    for b in range(3):
        with open(os.path.join(landing, f"b{b}.json"), "w") as f:
            for i in range(b * 40, (b + 1) * 40):
                f.write(json.dumps(_doc(i)) + "\n")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    versions = []

    def _absorb(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        versions.append(
            rollup.update_drift_rollup(
                spark, rollup_dir, batch_df, batch_id=batch_id
            )
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(versions) == 3

    got = {
        tuple(r)
        for r in rollup.read_drift_psi(spark, rollup_dir).collect()
    }
    union = spark.read.schema(schema).json(landing)
    want = {tuple(r) for r in psi_report(drift_counts(union)).collect()}
    assert got == want and len(got) > 5  # exact equality, not tolerance


@pytest.mark.slow
def test_stream_feeds_phash_rollup_matches_one_shot(spark):
    """Streaming image-dedup ingest: an availableNow foreachBatch
    loop hashes each landed document micro-batch into
    rollup.update_phash_rollup (payloads read once, at landing), and
    the corpus pair set derived from the persisted 8-byte hashes
    equals the one-shot q_multimodal_phash_dedup pair computation
    over the union — stream ≡ batch for the r12 image family."""
    from pyspark.sql import types as T

    from twitter_etl_spark import rollup
    from twitter_etl_spark.queries.multimodal_q import (
        phash_frame,
        phash_pairs,
    )

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    rollup_dir = os.path.join(base, "phash_rollup")
    os.makedirs(landing)

    words = ["key", "agg", "row", "scan", "slow", "fast", "table"]

    def _doc(i):
        toks = [words[(i + j) % len(words)] for j in range(10 + i % 5)]
        if i % 7 == 0:
            toks = [words[j % len(words)] for j in range(12)]  # near-dups
        return {"doc_id": i, "text": " ".join(toks)}

    for b in range(3):
        with open(os.path.join(landing, f"b{b}.json"), "w") as f:
            for i in range(b * 30, (b + 1) * 30):
                f.write(json.dumps(_doc(i)) + "\n")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    versions = []

    def _absorb(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        versions.append(rollup.update_phash_rollup(spark, rollup_dir, batch_df))

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(versions) == 3

    got = {
        tuple(r)
        for r in rollup.phash_rollup_pairs(spark, rollup_dir).collect()
    }
    union = spark.read.schema(schema).json(landing)
    want = {tuple(r) for r in phash_pairs(phash_frame(union)).collect()}
    assert got == want and len(got) > 0  # exact equality, not tolerance


@pytest.mark.slow
def test_stream_feeds_softdedup_rollup_matches_one_shot(spark):
    """Streaming soft-dedup weight upkeep: an availableNow
    foreachBatch loop absorbs each landed micro-batch into
    rollup.update_softdedup_rollup (with its foreachBatch batch_id —
    the replay-safe path), and the finalized digest weights equal
    the one-shot aggregation over the union of all batches —
    stream ≡ batch extended to the r13 soft-dedup family."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from twitter_etl_spark import rollup
    from twitter_etl_spark.cleaning import clean_chain

    base = tempfile.mkdtemp()
    landing = os.path.join(base, "landing")
    rollup_dir = os.path.join(base, "soft_rollup")
    os.makedirs(landing)

    texts = ["alpha beta", "gamma delta", "alpha beta", "epsilon"]
    for b in range(3):
        with open(os.path.join(landing, f"b{b}.json"), "w") as f:
            for i in range(b * 30, (b + 1) * 30):
                f.write(
                    json.dumps(
                        {"doc_id": i, "text": texts[i % 4], "lang": "en"}
                    )
                    + "\n"
                )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    versions = []

    def _absorb(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        versions.append(
            rollup.update_softdedup_rollup(
                spark, rollup_dir, batch_df, batch_id=batch_id
            )
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(versions) == 3

    got = {
        (r["norm_digest"], r["dup_count"], r["keeper_doc_id"], r["soft_weight"])
        for r in rollup.read_softdedup_weights(spark, rollup_dir).collect()
    }
    union = spark.read.schema(schema).json(landing)
    want = {
        (r["g"], r["n"], r["mn"], round(1.0 / r["n"], 6))
        for r in union.select(
            "doc_id", F.md5(clean_chain(F.col("text"))).alias("g")
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("mn"))
        .collect()
    }
    assert got == want and len(got) == 3  # 3 distinct texts (slot 0 == slot 2)
