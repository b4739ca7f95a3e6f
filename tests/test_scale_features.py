"""Runtime-optimizer feature proofs: dynamic partition pruning and
AQE skew-join splitting. These are the two cluster-scale behaviors
you cannot see in a static plan audit — both are exercised here
end-to-end on local[32] so a Spark-version or config regression
that silently disables them fails a test, not a production run.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from twitter_etl_spark.tables import table

from conftest import SF_ORACLE


def test_dynamic_partition_pruning_on_partitioned_sink(spark):
    """A date-partitioned fact joined to a filtered dim must prune
    partitions at RUNTIME (DPP): the scan carries a dynamicpruning
    subquery expression instead of reading all partitions."""
    with tempfile.TemporaryDirectory() as tmp:
        e = table(spark, SF_ORACLE, "events").withColumn(
            "day", F.date_format("ts", "yyyy-MM-dd")
        )
        e.write.partitionBy("day").mode("overwrite").parquet(f"{tmp}/fact")
        fact = spark.read.parquet(f"{tmp}/fact")
        dim = (
            e.select("day").distinct().limit(3).withColumn("keep", F.lit(1))
        )
        # materialize the dim so the filter below is a real runtime input
        dim = spark.createDataFrame(dim.collect(), dim.schema)
        j = fact.join(dim.where(F.col("keep") == 1), "day")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_aqe_splits_skewed_join(spark):
    """One giant key must be split by AQE's skew-join handling
    (visible as skew=true in the final adaptive plan)."""
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        # thresholds low enough that the hot key trips skew handling,
        # broadcast off so the join is a shuffle join at all
        # shuffle bytes are COMPRESSED and the hot key is a constant,
        # so the thresholds must sit well below the naive row-count
        # estimate for the split to trigger on fixture-sized data
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "4KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        li = table(spark, SF_ORACLE, "lineitem")
        # Three things the split needs, learned the hard way:
        # 1. MULTIPLE map tasks on the skewed side (repartition(8)):
        #    a reduce partition can only split at map-output
        #    granularity, and the small fixture reads as ONE task.
        # 2. An INCOMPRESSIBLE payload (md5): shuffle sizes are
        #    compressed bytes, a constant pad compresses to nothing.
        # 3. The join children must be Sort(ShuffleStage) directly:
        #    an aggregate between shuffle and join disqualifies the
        #    OptimizeSkewedJoin pattern match (hence range(), not a
        #    groupBy, for the right side).
        skewed = li.repartition(8).select(
            F.when(F.col("l_orderkey") % 10 != 0, F.lit(0))
            .otherwise(F.col("l_orderkey"))
            .alias("k"),
            F.md5(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.col("l_partkey").cast("string"),
                )
            ).alias("pad"),
        )
        right = spark.range(0, 200000, 10).select(
            F.col("id").alias("k"), F.lit(1).alias("nk")
        )
        # aggregate over pad so column pruning can't drop the payload
        j = skewed.join(right, "k").agg(F.sum(F.length("pad")))
        j.collect()  # run so AQE finalizes the plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """The third runtime re-optimization the 100 TB posture leans on
    (with DPP and skew-split above): when a selective dim filter
    feeds a SHUFFLE join, Spark injects a bloom filter built from
    the dim keys as a `might_contain` predicate on the fact side —
    fact rows with no join partner die at the scan instead of
    crossing the exchange. Operational findings encoded here:

    1. only fires on non-broadcast joins (a broadcast join already
       filters at the hash table) — the test forces a shuffle join;
    2. `applicationSideScanSizeThreshold` gates on the FACT scan
       size, so tiny fixtures need it lowered to observe the plan;
    3. the filter is a plan-visible ObjectHashAggregate
       `bloom_filter_agg` subquery — cost is one extra pass over the
       (filtered) dim side, repaid by shuffle-volume reduction."""
    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = table(spark, SF_ORACLE, "lineitem")
        o = table(spark, SF_ORACLE, "orders").filter(
            F.col("o_totalprice") > 500000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in p, p[:2000]
        assert "bloom_filter_agg" in p
        # the predicate must sit on the FACT (lineitem) side scan
        fact_part = p[p.index("might_contain"):]
        assert "l_orderkey" in p.splitlines()[
            next(i for i, l in enumerate(p.splitlines()) if "might_contain" in l)
        ]
        assert j.count() >= 0  # executes cleanly with the filter in place
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_drift_rollup_absorb_matches_one_shot(spark):
    """update_drift_rollup / read_drift_psi: absorbing the corpus in
    three doc_id-keyed chunks yields a PSI report row-identical to
    the one-shot q_drift_psi over the full table — counts are a
    plain-sum monoid, so the merge is exact, and the finalizer is
    the same psi_report both ways."""
    from twitter_etl_spark import rollup
    from twitter_etl_spark.queries.dq import q_drift_psi

    base = tempfile.mkdtemp()
    rdir = f"{base}/drift_rollup"
    d = table(spark, SF_ORACLE, "documents")
    versions = [
        rollup.update_drift_rollup(
            spark, rdir, d.where(F.col("doc_id") % 3 == i)
        )
        for i in range(3)
    ]
    assert versions == [1, 2, 3]

    got = {
        tuple(r) for r in rollup.read_drift_psi(spark, rdir).collect()
    }
    want = {tuple(r) for r in q_drift_psi(spark, SF_ORACLE).collect()}
    assert got == want and len(got) > 10
    # time travel: version 1 covers only chunk 0
    v1 = {
        tuple(r)
        for r in rollup.read_drift_psi(spark, rdir, version=1).collect()
    }
    from twitter_etl_spark.queries.dq import drift_counts, psi_report

    want_v1 = {
        tuple(r)
        for r in psi_report(
            drift_counts(d.where(F.col("doc_id") % 3 == 0))
        ).collect()
    }
    assert v1 == want_v1


def test_drift_rollup_emd_finalizer_matches_one_shot(spark):
    """read_drift_emd over the absorbed state == one-shot q_drift_emd
    — one persisted rollup serves both drift finalizers (PSI and
    EMD), so a monitoring job maintains counts once."""
    from twitter_etl_spark import rollup
    from twitter_etl_spark.queries.dq import q_drift_emd

    base = tempfile.mkdtemp()
    rdir = f"{base}/drift_rollup2"
    d = table(spark, SF_ORACLE, "documents")
    for i in range(3):
        rollup.update_drift_rollup(spark, rdir, d.where(F.col("doc_id") % 3 == i))

    got = {tuple(r) for r in rollup.read_drift_emd(spark, rdir).collect()}
    want = {tuple(r) for r in q_drift_emd(spark, SF_ORACLE).collect()}
    assert got == want and len(got) == 1


def test_emd_densifies_gap_bins(spark):
    """The EMD finalizer counts empty interior bins: moving all mass
    from bin 0 to bin 10 is 10 bins of transport, not 1 — the exact
    under-report ADVICE r12 flagged on the populated-bins-only
    frame. n_bins must be the dense grid width (11), and emd_bins
    the true Wasserstein distance (10)."""
    from twitter_etl_spark.queries.dq import emd_report

    cnt = spark.createDataFrame(
        [(0, 5, 0), (10, 0, 5)], "bin int, cr long, cc long"
    )
    [row] = emd_report(cnt).collect()
    assert row.n_bins == 11
    assert row.emd_bins == 10.0


def test_drift_rollup_replay_is_idempotent(spark):
    """foreachBatch is at-least-once into non-transactional sinks: a
    replayed batch_id must NOT double-count (ADVICE r12). Re-absorbing
    the last batch id — and an older id — returns the current version
    unchanged and leaves the PSI report identical; a genuinely NEW id
    still absorbs."""
    from twitter_etl_spark import rollup, sinks
    from twitter_etl_spark.queries.dq import q_drift_psi

    base = tempfile.mkdtemp()
    rdir = f"{base}/drift_rollup_hwm"
    d = table(spark, SF_ORACLE, "documents")
    chunks = [d.where(F.col("doc_id") % 3 == i) for i in range(3)]
    versions = [
        rollup.update_drift_rollup(spark, rdir, chunks[i], batch_id=i)
        for i in range(3)
    ]
    assert versions == [1, 2, 3]
    assert sinks.batch_hwm(rdir) == 2

    report = {tuple(r) for r in rollup.read_drift_psi(spark, rdir).collect()}
    # replay the last batch and an older batch: skipped, version frozen
    assert rollup.update_drift_rollup(spark, rdir, chunks[2], batch_id=2) == 3
    assert rollup.update_drift_rollup(spark, rdir, chunks[0], batch_id=0) == 3
    after = {tuple(r) for r in rollup.read_drift_psi(spark, rdir).collect()}
    assert after == report  # no double count
    assert report == {
        tuple(r) for r in q_drift_psi(spark, SF_ORACLE).collect()
    }
    # a new batch id still absorbs (empty frame: counts unchanged but
    # version advances and the hwm moves)
    assert (
        rollup.update_drift_rollup(
            spark, rdir, chunks[0].limit(0), batch_id=3
        )
        == 4
    )
    assert sinks.batch_hwm(rdir) == 3


def test_phash_rollup_absorb_and_probe_match_one_shot(spark):
    """update_phash_rollup / phash_rollup_pairs / probe_phash_rollup:
    (1) pairs from the absorbed state == the one-shot
    q_multimodal_phash_dedup over the full table; (2) the
    batch-restricted probe == the one-shot pairs filtered to
    doc_b in the batch — history hashed once, never re-paired."""
    from twitter_etl_spark import rollup
    from twitter_etl_spark.queries.multimodal_q import (
        q_multimodal_phash_dedup,
    )

    base = tempfile.mkdtemp()
    rdir = f"{base}/phash_rollup"
    d = table(spark, SF_ORACLE, "documents")
    for i in range(3):
        rollup.update_phash_rollup(
            spark, rdir, d.where(F.col("doc_id") % 3 == i)
        )

    want = {
        tuple(r) for r in q_multimodal_phash_dedup(spark, SF_ORACLE).collect()
    }
    got = {tuple(r) for r in rollup.phash_rollup_pairs(spark, rdir).collect()}
    assert got == want and len(got) > 5

    batch = d.where(F.col("doc_id") % 3 == 2).select("doc_id")
    batch_ids = {r["doc_id"] for r in batch.collect()}
    probe = {
        tuple(r)
        for r in rollup.probe_phash_rollup(spark, rdir, batch).collect()
    }
    assert probe == {t for t in want if t[1] in batch_ids}
