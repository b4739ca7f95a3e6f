"""Sink semantics (append / empty guard / DDL collision) and the
NDJSON + nested-schema sources."""

from __future__ import annotations

import os
import tempfile

from twitter_etl_spark.sinks import (
    TWEET_DATA_SCHEMA,
    append_table,
    create_table_if_absent,
)
from twitter_etl_spark.sources import (
    TWEET_STREAM_SCHEMA,
    read_ndjson,
)


def test_append_and_empty_guard(spark):
    d = os.path.join(tempfile.mkdtemp(), "t")
    df = spark.range(3).toDF("id")
    assert append_table(df, d) is True
    assert append_table(df.filter("id < 0"), d) is False  # empty -> no write
    assert append_table(None, d) is False  # NULL guard (main.R:114)
    assert append_table(df, d) is True
    assert spark.read.parquet(d).count() == 6  # at-least-once append


def test_ddl_create_if_absent_collision(spark):
    base = os.path.join(tempfile.mkdtemp(), "tbl")
    p1 = create_table_if_absent(spark, base)
    assert p1 == base
    assert spark.read.parquet(p1).schema == TWEET_DATA_SCHEMA
    p2 = create_table_if_absent(spark, base)  # collision -> fresh name
    assert p2 != base and p2.startswith(base)
    assert os.path.exists(base)  # original untouched


def test_nested_tweet_schema_roundtrip(spark):
    import json

    d = tempfile.mkdtemp()
    payload = {
        "id_str": "1",
        "created_at": "Mon Jan 01 00:00:00 +0000 2024",
        "text": "hola @x http://t.co/y",
        "lang": "es",
        "source": "web",
        "user": {"screen_name": "alice", "location": "scl"},
        "entities": {"hashtags": [{"text": "chile"}]},
        "quoted_status": {"text": "q", "user": {"screen_name": "bob"}},
        "extra_props": "{\"k\": 1}",
    }
    with open(os.path.join(d, "stream_20240101_000000.json"), "w") as f:
        f.write(json.dumps(payload) + "\n")
    df = read_ndjson(spark, d, TWEET_STREAM_SCHEMA)
    row = df.first()
    # nested flatten via dotted select — the rtweet parse_stream
    # equivalent (main.R:81)
    flat = df.select(
        "user.screen_name", "quoted_status.user.screen_name", "entities.hashtags"
    ).first()
    assert row["lang"] == "es"
    assert flat[0] == "alice" and flat[1] == "bob"
    assert flat[2][0]["text"] == "chile"


def test_partitioned_write_and_pruning(spark):
    import tempfile
    from pyspark.sql import functions as F
    from twitter_etl_spark.sinks import write_partitioned
    from twitter_etl_spark.tables import table

    d = os.path.join(tempfile.mkdtemp(), "events_part")
    ev = table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "ingest_date", F.to_date("ts")
    )
    write_partitioned(ev, d)
    assert any(p.startswith("ingest_date=") for p in os.listdir(d))
    one_day = spark.read.parquet(d).filter(F.col("ingest_date") == "2024-01-02")
    # partition pruning: the physical plan carries the partition filter
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and one_day.count() > 0


def test_compaction_preserves_rows(spark):
    import glob
    import tempfile
    from twitter_etl_spark.sinks import append_table, compact_table

    d = os.path.join(tempfile.mkdtemp(), "t")
    df = spark.range(100).toDF("id").repartition(8)
    append_table(df, d)
    append_table(df, d)
    files_before = len(glob.glob(os.path.join(d, "*.parquet")))
    n = compact_table(spark, d, target_files=1)
    files_after = len(glob.glob(os.path.join(d, "*.parquet")))
    assert n == 200
    assert files_after < files_before and files_after == 1
    assert spark.read.parquet(d).count() == 200


def test_size_targeted_compaction(spark):
    """compact_to_file_size derives the file count from measured
    on-disk bytes: a fragmented table compacts to ~total/target
    files; a healthy table (files within 2x of target) is left
    untouched — the maintenance-job contract."""
    import glob
    import tempfile

    from twitter_etl_spark.sinks import append_table, compact_to_file_size

    d = os.path.join(tempfile.mkdtemp(), "t")
    df = spark.range(20_000).selectExpr("id", "repeat(uuid(), 8) AS pad")
    for _ in range(4):  # fragment: 4 appends x 8 files
        append_table(df.repartition(8), d)
    files = glob.glob(os.path.join(d, "*.parquet"))
    total = sum(os.path.getsize(f) for f in files)
    target = -(-total // 3)  # aim for ~3 output files
    got = compact_to_file_size(spark, d, target_file_bytes=int(target))
    assert got == 3
    assert len(glob.glob(os.path.join(d, "*.parquet"))) == 3
    assert spark.read.parquet(d).count() == 80_000
    # second call: avg file size is now within 2x of target -> no-op
    again = compact_to_file_size(spark, d, target_file_bytes=int(target))
    assert again == 3
    assert len(glob.glob(os.path.join(d, "*.parquet"))) == 3


def test_jdbc_sink_roundtrip(spark):
    """JDBC write-through (the reference's DBI/RSQLite append,
    main.R:117): append twice into an embedded Derby database (the
    derby jars ship on Spark's classpath), read back over JDBC, and
    check at-least-once append semantics. Skips with a reason if no
    embedded driver is available on this classpath."""
    import pytest

    from twitter_etl_spark.sinks import append_jdbc

    url = f"jdbc:derby:{tempfile.mkdtemp()}/jdbcdb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    df = spark.createDataFrame(
        [(1, "hola mundo"), (2, "otra frase")], ["tweet_id", "content"]
    )
    try:
        append_jdbc(df, url, "tweet_data", props)
    except Exception as e:  # no driver jar in this container: document & skip
        msg = str(e)
        if "ClassNotFound" in msg or "No suitable driver" in msg:
            pytest.skip(f"no embedded JDBC driver on classpath: {msg[:120]}")
        raise
    append_jdbc(df, url, "tweet_data", props)  # append keeps both (main.R:118)
    back = spark.read.jdbc(url, "tweet_data", properties=props)
    assert [c.lower() for c in back.columns] == ["tweet_id", "content"]
    assert back.count() == 4
    assert back.filter("tweet_id = 1").count() == 2


def test_retention_drops_old_partitions(spark):
    """Retention on a date-partitioned sink is a directory drop: old
    partitions disappear, newer data is untouched, and the surviving
    table still reads cleanly."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.sinks import (
        drop_partitions_older_than,
        write_partitioned,
    )
    from twitter_etl_spark.tables import table

    d = os.path.join(tempfile.mkdtemp(), "events_ret")
    ev = table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "ingest_date", F.to_date("ts")
    )
    write_partitioned(ev, d)
    days = sorted(
        p.split("=")[1] for p in os.listdir(d) if p.startswith("ingest_date=")
    )
    assert len(days) >= 2
    cutoff = days[1]  # keep from the second day onward
    before = spark.read.parquet(d).count()
    old_rows = (
        spark.read.parquet(d).filter(F.col("ingest_date") < cutoff).count()
    )
    dropped = drop_partitions_older_than(d, cutoff)
    assert dropped == [days[0]]
    survivors = spark.read.parquet(d)
    assert survivors.count() == before - old_rows
    assert survivors.filter(F.col("ingest_date") < cutoff).count() == 0


def test_robust_ndjson_quarantines_malformed_lines(spark):
    """PERMISSIVE landing read: good lines parse with the explicit
    schema, broken lines are quarantined verbatim, nothing crashes
    and nothing is silently dropped."""
    from twitter_etl_spark.sources import read_ndjson_robust, split_quarantine

    d = tempfile.mkdtemp()
    p = os.path.join(d, "landing.json")
    with open(p, "w") as f:
        f.write('{"doc_id": 1, "text": "ok one", "lang": "es", "source": "s", "n_chars": 6}\n')
        f.write('{"doc_id": 2, "text": "ok two", "lang": "en", "source": "s", "n_chars": 6}\n')
        f.write('{"doc_id": 3, "text": "truncat\n')  # cut mid-record
        f.write('not json at all\n')
        f.write('{"doc_id": 4, "text": "ok three", "lang": "es", "source": "s", "n_chars": 8}\n')
    good, bad = split_quarantine(read_ndjson_robust(spark, p))
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2, 4]
    quarantined = [r["_corrupt_record"] for r in bad.collect()]
    assert len(quarantined) == 2
    assert "not json at all" in quarantined


def test_training_shard_export_deterministic(spark):
    """Shard assignment is content-keyed: two exports produce
    identical shard membership, every row lands in exactly one
    shard, and each shard directory holds one data file."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.sinks import export_training_shards
    from twitter_etl_spark.tables import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    d1 = os.path.join(tempfile.mkdtemp(), "shards1")
    d2 = os.path.join(tempfile.mkdtemp(), "shards2")
    export_training_shards(docs, d1, "doc_id", n_shards=4)
    export_training_shards(docs, d2, "doc_id", n_shards=4)
    r1 = spark.read.parquet(d1).select("doc_id", "shard")
    r2 = spark.read.parquet(d2).select("doc_id", "shard")
    assert r1.count() == docs.count()
    assert r1.subtract(r2).count() == 0 and r2.subtract(r1).count() == 0
    assert r1.select("shard").distinct().count() == 4
    for shard_dir in (p for p in os.listdir(d1) if p.startswith("shard=")):
        files = [
            f for f in os.listdir(os.path.join(d1, shard_dir))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, shard_dir


def test_versioned_publish_atomic_pointer(spark):
    """Snapshot publish: each publish creates an immutable v=N,
    _LATEST always resolves to a complete snapshot, and old
    versions stay readable (time travel)."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.sinks import publish_version, read_version
    from twitter_etl_spark.tables import table

    d = os.path.join(tempfile.mkdtemp(), "versioned")
    docs = table(spark, "/root/testdata/sf0.001", "documents")
    v1 = publish_version(docs.filter(F.col("lang") == "es"), d)
    v2 = publish_version(docs, d)
    assert (v1, v2) == (1, 2)
    assert read_version(spark, d).count() == docs.count()  # latest = v2
    assert read_version(spark, d, 1).count() == docs.filter(
        F.col("lang") == "es"
    ).count()
    assert open(os.path.join(d, "_LATEST")).read() == "2"


def test_vacuum_versions_keeps_latest_and_recent(spark, tmp_path):
    """vacuum_versions drops old snapshots but never the pointer
    target; reads of the latest keep working; dropped versions are
    gone from disk."""
    import os

    from pyspark.sql import functions as F

    from twitter_etl_spark.sinks import (
        publish_version,
        read_version,
        vacuum_versions,
    )
    from twitter_etl_spark.tables import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    d = str(tmp_path / "pub")
    for i in range(4):
        publish_version(docs.limit(10 * (i + 1)), d)
    dropped = vacuum_versions(d, keep=2)
    assert dropped == [1, 2]
    left = sorted(p for p in os.listdir(d) if p.startswith("v="))
    assert left == ["v=3", "v=4"]
    assert read_version(spark, d).count() == 40  # latest intact


def test_incremental_rollup_equals_full_aggregate(spark, tmp_path):
    """update_rollup applied over three disjoint increments must
    equal the one-shot aggregate of the full table exactly, each
    update is an atomic published version, and the pre-merge rollup
    stays readable (time travel)."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.rollup import read_rollup, update_rollup
    from twitter_etl_spark.sinks import read_version
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    docs = table(spark, sf, "documents")
    d = str(tmp_path / "rollup")
    v = None
    for part in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == part)
        v = update_rollup(spark, d, batch)
    assert v == 3

    got = {r["lang"]: r for r in read_rollup(spark, d).collect()}
    want = {
        r["lang"]: r
        for r in docs.groupBy("lang")
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
    # time travel: version 1 holds only the first increment's docs
    v1_n = sum(r["n"] for r in read_version(spark, d, 1).collect())
    assert v1_n == docs.filter(F.col("doc_id") % 3 == 0).count()


def test_rollup_null_chars_and_state_schema(spark, tmp_path):
    """Three update_rollup batches equal the one-shot aggregate when
    one ``lang`` has only null ``n_chars`` (``n`` counts those rows,
    sum/min/max skip the nulls), and the published snapshot's schema
    is the ``STATE_SCHEMA`` that later batches read it with. With a
    stream ``batch_id``, a repeated id returns the current version and
    absorbs nothing; a new id absorbs."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.rollup import STATE_SCHEMA, update_rollup
    from twitter_etl_spark.sinks import read_version

    schema = "lang string, n_chars bigint"
    batches = [
        [("es", 3), ("es", 5), ("en", 4), ("xx", None)],
        [("xx", None), ("es", None), ("es", 11)],
        [("en", 2), ("xx", None), ("fr", 7)],
    ]
    d = str(tmp_path / "rollup")
    for rows in batches:
        update_rollup(spark, d, spark.createDataFrame(rows, schema))
    snapshot = read_version(spark, d)
    assert snapshot.schema == STATE_SCHEMA
    want = (
        spark.createDataFrame([r for b in batches for r in b], schema)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("s"),
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
        )
    )
    assert sorted(map(tuple, snapshot.collect())) == sorted(map(tuple, want.collect()))
    assert ("xx", 3, None, None, None) in map(tuple, snapshot.collect())

    d = str(tmp_path / "replayed")
    batch = spark.createDataFrame(batches[0], schema)
    assert [update_rollup(spark, d, batch, batch_id=i) for i in (0, 0, 1)] == [1, 1, 2]
    assert ("es", 4, 16, 3, 5) in map(tuple, read_version(spark, d).collect())


def test_key_index_schema_matches_constant(spark, tmp_path):
    """The global-dedup sink is its own key index, read with
    ``KEY_INDEX_SCHEMA``; the digest column the stream writes must
    have exactly that schema."""
    import json

    from twitter_etl_spark.streaming.microbatch import (
        KEY_INDEX_SCHEMA,
        key_index_path,
        run_microbatch_pipeline_global_dedup,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    doc = {"doc_id": 1, "text": "hola mundo", "lang": "es", "source": "s", "n_chars": 10}
    (landing / "stream_1.json").write_text(json.dumps(doc) + "\n")
    sink = str(tmp_path / "sink")
    run_microbatch_pipeline_global_dedup(spark, str(landing), sink, str(tmp_path / "ckpt"))
    assert key_index_path(sink) == sink
    assert spark.read.parquet(sink).select("digest").schema == KEY_INDEX_SCHEMA


def test_compact_sorted_tightens_rowgroup_stats(spark, tmp_path):
    """Clustered compaction must (a) preserve rows, (b) produce
    row-group min/max stats for the sort column that are near-
    disjoint — the property row-group skipping depends on. Before:
    interleaved appends make every row group span ~the whole key
    domain; after: each covers ~1/Nth. Verified on the parquet
    footers via pyarrow."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from twitter_etl_spark.sinks import compact_sorted

    d = str(tmp_path / "t")
    # 4 appends, each covering the FULL o_orderkey domain (worst case)
    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    for i in range(4):
        src.filter(F.col("o_orderkey") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    def rg_ranges(path):
        out = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    md = pq.ParquetFile(os.path.join(root, f)).metadata
                    schema_idx = {
                        md.schema.column(i).name: i
                        for i in range(md.num_columns)
                    }["o_orderkey"]
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(schema_idx).statistics
                        out.append((st.min, st.max))
        return out

    before = rg_ranges(d)
    domain = max(mx for _, mx in before) - min(mn for mn, _ in before)
    assert all(mx - mn > domain * 0.8 for mn, mx in before)  # useless stats

    n = compact_sorted(spark, d, "o_orderkey", target_files=4)
    assert n == src.count()
    after = rg_ranges(d)
    # every row group now covers a narrow slice, and slices are
    # pairwise non-overlapping (range partition + sort within)
    assert all(mx - mn <= domain * 0.5 for mn, mx in after)
    spans = sorted(after)
    assert all(a_max <= b_min for (_, a_max), (b_min, _) in zip(spans, spans[1:]))


def test_ndjson_gz_landing_files_read_transparently(spark, tmp_path):
    """Crawl dumps land gzipped; the NDJSON source must read .json.gz
    files transparently (Spark's codec-by-extension) with the same
    explicit schema — no config, no separate code path."""
    import gzip
    import json as _json

    from twitter_etl_spark.sources import read_ndjson

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [
        {"doc_id": i, "text": f"texto {i}", "lang": "es", "source": "s", "n_chars": 8}
        for i in range(5)
    ]
    with gzip.open(landing / "stream_20240101_000000.json.gz", "wt") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    out = read_ndjson(spark, str(landing))
    assert out.count() == 5
    assert {r["doc_id"] for r in out.collect()} == set(range(5))


def test_compact_zorder_tightens_stats_on_both_columns(spark, tmp_path):
    """Z-order vs single-column sort, measured on parquet footers:
    after compact_zorder every row group's min/max span is narrow on
    BOTH z-ordered columns, while compact_sorted narrows only its
    sort column. Uses two independent uniform keys so the locality
    is earned by the Morton interleave, not by correlation."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from twitter_etl_spark.sinks import compact_sorted, compact_zorder

    src = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def build(dirname):
        d = str(tmp_path / dirname)
        for i in range(4):
            src.filter(F.col("o_orderkey") % 4 == i).coalesce(1).write.mode(
                "append"
            ).parquet(d)
        return d

    def spans(path, col):
        out = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    md = pq.ParquetFile(os.path.join(root, f)).metadata
                    idx = {
                        md.schema.column(i).name: i
                        for i in range(md.num_columns)
                    }[col]
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics
                        out.append(st.max - st.min)
        return out

    dz = build("z")
    n = compact_zorder(spark, dz, "o_orderkey", "o_custkey", target_files=16)
    assert n == src.count()
    dom_k = 15000  # o_orderkey domain at sf0.01
    dom_c = src.agg(F.max("o_custkey") - F.min("o_custkey")).collect()[0][0]
    z_k, z_c = spans(dz, "o_orderkey"), spans(dz, "o_custkey")
    # 16 z-files -> ~1/4 domain per dimension; allow slack to 0.6
    assert sum(z_k) / len(z_k) <= dom_k * 0.6, sum(z_k) / len(z_k) / dom_k
    assert sum(z_c) / len(z_c) <= dom_c * 0.6, sum(z_c) / len(z_c) / dom_c

    ds = build("s")
    compact_sorted(spark, ds, "o_orderkey", target_files=16)
    s_k, s_c = spans(ds, "o_orderkey"), spans(ds, "o_custkey")
    assert sum(s_k) / len(s_k) <= dom_k * 0.2  # its own column: tight
    assert sum(s_c) / len(s_c) >= dom_c * 0.8  # the other: useless


def test_incremental_distinct_rollup_exact(spark, tmp_path):
    """Bitmap-state distinct rollup over 3 increments (with user
    overlap BETWEEN increments — the case naive count-sums get
    wrong) equals count(DISTINCT user_id) per event type exactly."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.rollup import (
        read_distinct_rollup,
        update_distinct_rollup,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    ev = table(spark, sf, "events")
    d = str(tmp_path / "dr")
    # overlapping slices: ts-thirds share users across increments
    for part in range(3):
        batch = ev.filter(F.col("event_id") % 3 <= part)  # growing, overlapping
        update_distinct_rollup(spark, d, batch)
    got = {
        r["event_type"]: r["n_distinct_users"]
        for r in read_distinct_rollup(spark, d).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_python_datasource_partitioned_and_deterministic(spark):
    """Spark 4 Python DataSource API: the custom synthetic_docs
    connector reads with real task-level partitioning (8 requested =
    8 RDD partitions), unique ids, and identical content across two
    independent reads (layout-independent determinism — the property
    every custom connector here must keep, cf. hash sampling)."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.datasource import register

    register(spark)

    def load(parts):
        return (
            spark.read.format("synthetic_docs")
            .option("n", 500)
            .option("parts", parts)
            .load()
        )

    df = load(8)
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 500
    assert df.agg(F.count_distinct("doc_id")).collect()[0][0] == 500
    h8 = df.agg(F.expr("bit_xor(xxhash64(doc_id, text, lang))")).collect()[0][0]
    h2 = load(2).agg(F.expr("bit_xor(xxhash64(doc_id, text, lang))")).collect()[0][0]
    assert h8 == h2  # same corpus regardless of partition layout
    # the generated frame satisfies the documents schema contract and
    # feeds existing operators unchanged
    from twitter_etl_spark.pipeline import transform_documents

    out = transform_documents(df)
    assert out.count() > 0


def test_hll_rollup_accuracy_under_overlapping_increments(spark, tmp_path):
    """HLL distinct rollup (unbounded-key regime): 3 overlapping
    increments union-merged; estimates land within 5% of the exact
    distinct counts, and the per-group state is a single binary
    sketch row regardless of how many events were absorbed."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.rollup import read_hll_rollup, update_hll_rollup
    from twitter_etl_spark.sinks import read_version
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    ev = table(spark, sf, "events")
    d = str(tmp_path / "hll")
    for part in range(3):
        update_hll_rollup(spark, d, ev.filter(F.col("event_id") % 3 <= part))
    got = {
        r["event_type"]: r["approx_distinct_users"]
        for r in read_hll_rollup(spark, d).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) <= max(2, 0.05 * want[k]), (k, got[k], want[k])
    state = read_version(spark, d)
    assert state.count() == len(want)  # one sketch row per group


def test_register_rollup_equals_oneshot_sketch(spark, tmp_path):
    """Certifiable-register HLL rollup: absorbing 3 OVERLAPPING
    increments by register-max must reproduce the one-shot
    q_agg_hll_md5 estimate over the full table EXACTLY (same hash,
    same registers, same estimator — not just 'within tolerance'),
    with state bounded at <= groups x 256 relation rows."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.sketches import _HLL_M, q_agg_hll_md5
    from twitter_etl_spark.rollup import (
        read_register_rollup,
        update_register_rollup,
    )
    from twitter_etl_spark.sinks import read_version
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    ev = table(spark, sf, "events")
    d = str(tmp_path / "reg")
    for part in range(3):
        update_register_rollup(
            spark, d, ev.filter(F.col("event_id") % 3 <= part)
        )
    got = {
        r["event_type"]: r["hll_est"]
        for r in read_register_rollup(spark, d).collect()
    }
    want = {
        r["event_type"]: r["hll_est"]
        for r in q_agg_hll_md5(spark, sf).collect()
    }
    assert got == want
    state = read_version(spark, d)
    assert state.count() <= len(want) * _HLL_M


def test_bloom_rollup_no_false_negatives_across_increments(spark, tmp_path):
    """Persistent bloom rollup: after absorbing 2 batches, every
    absorbed document probes hit=1 (no false negatives, the bloom
    guarantee), and a disjoint batch mostly probes hit=0 (bounded
    false positives at this fill). State stays <= m rows."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.dedup import _BLOOM_M
    from twitter_etl_spark.rollup import (
        probe_bloom_rollup,
        update_bloom_rollup,
    )
    from twitter_etl_spark.sinks import read_version
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    docs = table(spark, sf, "documents")
    seen = docs.filter(F.col("doc_id") % 3 != 0)
    unseen = docs.filter(F.col("doc_id") % 3 == 0)
    d = str(tmp_path / "bloom")
    update_bloom_rollup(spark, d, seen.filter(F.col("doc_id") % 2 == 0))
    update_bloom_rollup(spark, d, seen.filter(F.col("doc_id") % 2 == 1))
    hits = {
        r["doc_id"]: r["bloom_hit"]
        for r in probe_bloom_rollup(spark, d, seen).collect()
    }
    assert all(v == 1 for v in hits.values()), "bloom false negative"
    miss = [
        r["bloom_hit"]
        for r in probe_bloom_rollup(spark, d, unseen).collect()
    ]
    # texts are unique at sf0.001, so unseen digests are genuinely
    # new; at ~2% fill the FP rate is far below 50%
    assert sum(miss) < len(miss) / 2
    assert read_version(spark, d).count() <= _BLOOM_M


def test_kmv_rollup_equals_oneshot_sketch(spark, tmp_path):
    """k-min rollup: absorbing 3 OVERLAPPING increments by
    k-smallest-of-union must reproduce the one-shot
    q_agg_kmv_distinct estimate over the full table EXACTLY (k-min
    lists merge losslessly — same hashes, same h_(k), same
    estimator), with state bounded at <= groups x k rows. Runs at
    sf0.01 so the estimator branch (150 distinct > k=64) is the one
    being reproduced, not the trivial exact branch."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.sketches import (
        _KMV_K,
        q_agg_kmv_distinct,
    )
    from twitter_etl_spark.rollup import (
        read_kmv_rollup,
        update_kmv_rollup,
    )
    from twitter_etl_spark.sinks import read_version
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.01"
    ev = table(spark, sf, "events")
    d = str(tmp_path / "kmv")
    for part in range(3):
        update_kmv_rollup(spark, d, ev.filter(F.col("event_id") % 3 <= part))
    got = {
        r["event_type"]: r["kmv_est"]
        for r in read_kmv_rollup(spark, d).collect()
    }
    want = {
        r["event_type"]: r["kmv_est"]
        for r in q_agg_kmv_distinct(spark, sf).collect()
    }
    assert got == want
    assert all(v != 150.0 for v in got.values())  # estimator branch
    state = read_version(spark, d)
    assert state.count() <= len(want) * _KMV_K
    assert state.groupBy("event_type").count().agg(
        F.max("count")
    ).first()[0] <= _KMV_K


def test_minhash_rollup_pairs_equal_oneshot_banded(spark, tmp_path):
    """Banded-MinHash rollup: after absorbing the corpus in two
    overlapping-free batches, regenerating pairs from the persisted
    state ALONE (band sigs + shingle digests, never text) must
    reproduce q_dedup_minhash_banded over the union row-for-row —
    including jaccard values, since digest-set cardinalities equal
    shingle-set cardinalities. Re-absorbing a batch must be a state
    no-op (rows are a pure function of text)."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.corpus import q_dedup_minhash_banded
    from twitter_etl_spark.rollup import (
        minhash_rollup_pairs,
        update_minhash_rollup,
    )
    from twitter_etl_spark.sinks import read_version
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    docs = table(spark, sf, "documents").select("doc_id", "text")
    d = str(tmp_path / "mh")
    update_minhash_rollup(spark, d, docs.filter(F.col("doc_id") % 2 == 0))
    update_minhash_rollup(spark, d, docs.filter(F.col("doc_id") % 2 == 1))
    got = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_rollup_pairs(spark, d).collect()
    )
    want = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in q_dedup_minhash_banded(spark, sf).collect()
    )
    assert got == want
    assert got  # non-vacuous: the sf0.001 fixture has near-dups
    n_before = read_version(spark, d).count()
    update_minhash_rollup(spark, d, docs.filter(F.col("doc_id") % 2 == 0))
    assert read_version(spark, d).count() == n_before


def test_minhash_probe_equals_incremental_query(spark, tmp_path):
    """Probe-without-absorb against the persisted index must equal
    the self-contained certified query on the same base/batch
    split — the operational path and the oracle-checked path are
    the same relation."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.corpus import (
        q_dedup_minhash_incremental,
    )
    from twitter_etl_spark.queries.dedup import _INCR_RECRAWL_SHIFT
    from twitter_etl_spark.queries.sampling import hash_bucket
    from twitter_etl_spark.rollup import (
        probe_minhash_rollup,
        update_minhash_rollup,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    d = table(spark, sf, "documents").select("doc_id", "text")
    bk = hash_bucket(F.col("text"))
    base = d.where(bk < 80)
    batch = d.where(bk >= 80).unionAll(
        d.where(bk < 20).select(
            (F.col("doc_id") + F.lit(_INCR_RECRAWL_SHIFT)).alias("doc_id"),
            "text",
        )
    )
    rd = str(tmp_path / "mh_idx")
    update_minhash_rollup(spark, rd, base)
    got = sorted(
        (r["doc_base"], r["doc_batch"], r["jaccard"])
        for r in probe_minhash_rollup(spark, rd, batch).collect()
    )
    want = sorted(
        (r["doc_base"], r["doc_batch"], r["jaccard"])
        for r in q_dedup_minhash_incremental(spark, sf).collect()
    )
    assert got == want
    assert got  # the re-crawled docs guarantee jaccard-1.0 matches


def test_semdedup_rollup_keeplist_equals_oneshot(spark, tmp_path):
    """SemDeDup rollup (r11 verdict #3): after absorbing the
    embedding corpus in two batches, the keep-list regenerated from
    the persisted (vec_id, label, v, norm) state ALONE must equal
    q_dedup_semantic over the union row-for-row — same pair scan,
    same hot-cell cap, same drop-superset rule. Re-absorbing a batch
    must be a state no-op (state rows are a pure function of the
    embedding row)."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.similarity import q_dedup_semantic
    from twitter_etl_spark.rollup import (
        semdedup_rollup_keeplist,
        update_semdedup_rollup,
    )
    from twitter_etl_spark.sinks import read_version
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "embeddings")
    d = str(tmp_path / "sd")
    update_semdedup_rollup(spark, d, e.filter(F.col("vec_id") % 2 == 0))
    update_semdedup_rollup(spark, d, e.filter(F.col("vec_id") % 2 == 1))
    got = sorted(
        (r["vec_id"], r["label"], r["kept"])
        for r in semdedup_rollup_keeplist(spark, d).collect()
    )
    want = sorted(
        (r["vec_id"], r["label"], r["kept"])
        for r in q_dedup_semantic(spark, sf).collect()
    )
    assert got == want
    assert any(k == 0 for _, _, k in got)  # non-vacuous: dups exist
    n_before = read_version(spark, d).count()
    update_semdedup_rollup(spark, d, e.filter(F.col("vec_id") % 2 == 0))
    assert read_version(spark, d).count() == n_before


def test_semdedup_probe_equals_incremental_query(spark, tmp_path):
    """Probe-without-absorb against the persisted semantic-dedup
    state must equal the self-contained certified query on the same
    base/batch split — the operational path and the oracle-checked
    path are the same relation (the minhash probe contract, lifted
    to embedding space)."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.sampling import hash_bucket
    from twitter_etl_spark.queries.similarity import (
        q_dedup_semantic_incremental,
    )
    from twitter_etl_spark.rollup import (
        probe_semdedup_rollup,
        update_semdedup_rollup,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "embeddings")
    bk = hash_bucket(F.col("vec_id").cast("string"))
    base, batch = e.where(bk < 80), e.where(bk >= 80)
    rd = str(tmp_path / "sd_idx")
    update_semdedup_rollup(spark, rd, base)
    got = sorted(
        (r["vec_id"], r["label"], r["kept"])
        for r in probe_semdedup_rollup(spark, rd, batch).collect()
    )
    want = sorted(
        (r["vec_id"], r["label"], r["kept"])
        for r in q_dedup_semantic_incremental(spark, sf).collect()
    )
    assert got == want
    assert got and any(k == 0 for _, _, k in got)  # non-vacuous


def test_theta_overlap_from_kmv_rollup_matches_replay(spark, tmp_path):
    """Read-time theta set algebra over the PERSISTED k-min rollup:
    absorbing events in two batches then asking for the
    purchase-vs-error audience overlap must equal a pure-Python
    theta replay over the full relation's per-type k-min lists —
    the lossless-merge contract extended from cardinalities to set
    expressions."""
    import hashlib

    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.sketches import _KMV_M, _THETA_K
    from twitter_etl_spark.rollup import (
        theta_overlap_from_kmv_rollup,
        update_kmv_rollup,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.01"
    e = table(spark, sf, "events")
    d = str(tmp_path / "kmv")
    update_kmv_rollup(spark, d, e.filter(F.col("event_id") % 2 == 0))
    update_kmv_rollup(spark, d, e.filter(F.col("event_id") % 2 == 1))
    r = theta_overlap_from_kmv_rollup(spark, d, "purchase", "error").first()

    def kmin(t):
        users = {
            row["user_id"]
            for row in e.filter(F.col("event_type") == t)
            .select("user_id")
            .distinct()
            .collect()
        }
        return sorted(
            int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
            for u in users
        )[:_THETA_K]

    ka, kb = kmin("purchase"), kmin("error")
    m_int = 1 << 60
    th = min(
        ka[_THETA_K - 1] if len(ka) >= _THETA_K else m_int,
        kb[_THETA_K - 1] if len(kb) >= _THETA_K else m_int,
    )
    fa = {h for h in ka if h < th}
    fb = {h for h in kb if h < th}
    scale = _KMV_M / float(th)
    assert r["th"] == th
    assert (r["cnt_u"], r["cnt_i"], r["cnt_d"]) == (
        len(fa | fb),
        len(fa & fb),
        len(fa - fb),
    )
    assert r["est_inter"] == round(len(fa & fb) * scale, 4)
    # sf0.01 genuinely estimates (both sides past k)
    assert len(ka) == _THETA_K and th < m_int


def test_histogram_rollup_equals_oneshot_percentiles(spark, tmp_path):
    """Histogram cells merge by ADDITION, so absorbing the customer
    table in two batches and reading percentiles from the rollup
    must reproduce q_agg_histo_percentile's estimates exactly — the
    fifth mergeable-rollup algebra (HLL max, bloom OR, KMV min-k,
    MinHash set-union, histogram sum)."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.sketches import q_agg_histo_percentile
    from twitter_etl_spark.rollup import (
        read_histogram_percentiles,
        update_histogram_rollup,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.01"
    c = table(spark, sf, "customer")
    d = str(tmp_path / "hist")
    update_histogram_rollup(spark, d, c.filter(F.col("c_custkey") % 2 == 0))
    update_histogram_rollup(spark, d, c.filter(F.col("c_custkey") % 2 == 1))
    got = {
        (r["c_mktsegment"], r["p"]): r["est"]
        for r in read_histogram_percentiles(spark, d).collect()
    }
    want = {
        (r["c_mktsegment"], r["p"]): r["hist_est"]
        for r in q_agg_histo_percentile(spark, sf).collect()
    }
    assert got == want and got


def test_windowdigest_rollup_probe_equals_oneshot_cut(spark, tmp_path):
    """Incremental exact-substring: absorb the corpus in two disjoint
    batches, probe the SECOND batch against the merged index — rows
    must equal q_dedup_substring_cut over the whole corpus
    restricted to that batch's doc_ids (min-first/sum-count merge
    preserves the global first-occurrence-survives policy), and the
    merged digest state must equal a one-shot window aggregation."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.dedup import q_dedup_substring_cut
    from twitter_etl_spark.rollup import (
        _window_state,
        probe_substring_cut,
        update_windowdigest_rollup,
    )
    from twitter_etl_spark.sinks import read_version
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    docs = table(spark, sf, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    d = str(tmp_path / "wd")
    update_windowdigest_rollup(spark, d, base)
    update_windowdigest_rollup(spark, d, batch)

    merged = {
        (r["h"], r["first_doc"], r["first_i"], r["n_occ"])
        for r in read_version(spark, d).collect()
    }
    oneshot = {
        (r["h"], r["first_doc"], r["first_i"], r["n_occ"])
        for r in _window_state(docs).collect()
    }
    assert merged == oneshot and merged

    got = sorted(
        tuple(r) for r in probe_substring_cut(spark, d, batch).collect()
    )
    keys = {r["doc_id"] for r in batch.select("doc_id").collect()}
    want = sorted(
        tuple(r)
        for r in q_dedup_substring_cut(spark, sf).collect()
        if r["doc_id"] in keys
    )
    assert got == want and got
    # the fixture corpus genuinely cuts something in the batch half
    assert any(r[2] > 0 for r in got)
