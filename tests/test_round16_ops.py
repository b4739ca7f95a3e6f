"""Round-16 operator pins.

Covers the r15 ADVICE fixes and the r16-new operators: out-of-order
curation absorption (the left_anti merge kept the FIRST-absorbed
keeper, silently diverging from one-shot curate() when a batch
arrived out of doc_id order), plus pins added as r16 ops land.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_curation_rollup_out_of_order_batches(spark, tmp_path):
    """r15 advice (rollup.py update_curation_rollup): absorbing the
    HIGH doc_id half before the low half must still elect the global
    min-doc_id keeper per digest — the merge re-elects
    min_by(doc_id) across prev ∪ fresh, so curation_keeplist is
    row-identical to one-shot curate() in ANY batch order, not just
    the append-only monotone shape."""
    from twitter_etl_spark.curation import curate
    from twitter_etl_spark.queries.similarity import q_dedup_semantic_adaptive
    from twitter_etl_spark.rollup import (
        curation_keeplist,
        update_curation_rollup,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    docs = table(spark, sf, "documents")
    embs = table(spark, sf, "embeddings")
    mid = 250
    d = str(tmp_path / "cur_ooo")
    # reversed order: high half first
    update_curation_rollup(
        spark, d, docs.filter(F.col("doc_id") >= mid),
        embs.filter(F.col("vec_id") >= mid),
    )
    update_curation_rollup(
        spark, d, docs.filter(F.col("doc_id") < mid),
        embs.filter(F.col("vec_id") < mid),
    )
    got = sorted(
        (r["doc_id"], r["norm_digest"], r["split"])
        for r in curation_keeplist(spark, d).collect()
    )
    keep = q_dedup_semantic_adaptive(spark, sf).select("vec_id", "kept")
    want = sorted(
        (r["doc_id"], r["norm_digest"], r["split"])
        for r in curate(docs, semantic_keep=keep)
        .select("doc_id", "norm_digest", "split")
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_curate_neardup_composition_matches_funnel(spark):
    """q_llm_curation_neardup's certified funnel counts must agree
    with the composable curate(neardup_keep=..., semantic_keep=...)
    API at every shared stage: the curated row count equals the
    funnel's 'quality' stage and the per-split counts match, and the
    funnel is monotone input >= exact >= neardup >= semantic >=
    quality = train+val+test."""
    from twitter_etl_spark.curation import curate
    from twitter_etl_spark.queries.corpus import (
        neardup_keep_flags,
        q_llm_curation_neardup,
    )
    from twitter_etl_spark.queries.similarity import q_dedup_semantic_adaptive
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    funnel = {
        r["stage"]: r["n_docs"]
        for r in q_llm_curation_neardup(spark, sf).collect()
    }
    assert (
        funnel["input"]
        >= funnel["exact_dedup"]
        >= funnel["neardup_dedup"]
        >= funnel["semantic_dedup"]
        >= funnel["quality"]
        > 0
    )
    assert funnel["quality"] == (
        funnel["split_train"] + funnel["split_val"] + funnel["split_test"]
    )
    # the near-dup stage must actually drop something at sf0.001
    # (the fixture contains seeded near-duplicates)
    assert funnel["neardup_dedup"] < funnel["exact_dedup"]
    docs = table(spark, sf, "documents")
    nd = neardup_keep_flags(spark, sf)
    sem = q_dedup_semantic_adaptive(spark, sf).select("vec_id", "kept")
    cur = (
        curate(docs, semantic_keep=sem, neardup_keep=nd)
        .groupBy("split")
        .count()
        .collect()
    )
    got = {r["split"]: r["count"] for r in cur}
    assert got.get("train", 0) == funnel["split_train"]
    assert got.get("val", 0) == funnel["split_val"]
    assert got.get("test", 0) == funnel["split_test"]


def test_pq_recall_audit_invariants(spark):
    """q_sim_pq_recall: one row per query vector, n_exact = 10
    (exact top-10 exists for every query), hits <= exact, recall_bp
    = half-away basis points of hits/exact. At sf0.001 recall is
    COARSE-stage limited (2 of 8 cells probed miss most true
    neighbors' cells — exactly the trade the audit exists to
    expose; measured mean 26%), and the 100-deep shortlist loses
    nothing on top of it: per-query PQ recall equals the certified
    IVF audit's recall, pinning that the int8-ADC quantization adds
    ZERO recall loss at this scale — the audited number is the
    coarse stage, not the codes."""
    from twitter_etl_spark.queries.corpus import (
        q_sim_ivf_recall,
        q_sim_pq_recall,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_sim_pq_recall(spark, sf).collect()
    assert len(rows) == 5  # query vectors are vec_id < 5
    for r in rows:
        assert r["n_exact"] == 10
        assert 0 <= r["n_hits"] <= r["n_exact"]
        want_bp = (2 * 10000 * r["n_hits"] + r["n_exact"]) // (2 * r["n_exact"])
        assert r["recall_bp"] == want_bp
    mean_bp = sum(r["recall_bp"] for r in rows) / len(rows)
    assert mean_bp >= 2000
    ivf = {
        r["query_id"]: r["recall_bp"]
        for r in q_sim_ivf_recall(spark, sf).collect()
    }
    assert {r["query_id"]: r["recall_bp"] for r in rows} == ivf


def test_neardup_clusters_match_union_find(spark):
    """The funnel's CC stage (components over the verified
    banded-MinHash pair set) must agree label-for-label with an
    independent pure-Python union-find over the SAME pair set — the
    Spark-side pin that carries the sf1 decade contract (the DuckDB
    recursive-CTE oracle is prohibitive there; q_geo_dbscan
    posture)."""
    from union_find import union_find_labels

    from twitter_etl_spark.queries.corpus import (
        _keeper_frame,
        _neardup_clusters,
        minhash_banded_pairs,
    )
    from twitter_etl_spark.queries.dedup import _shingles

    sf = "/root/testdata/sf0.001"
    g = _keeper_frame(spark, sf).localCheckpoint()
    sh = g.select(
        "doc_id", F.split(F.trim("nm"), r"\s+").alias("toks")
    ).select("doc_id", _shingles().alias("s")).filter(F.size("s") > 0)
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in minhash_banded_pairs(sh).select("doc_a", "doc_b").collect()
    ]
    assert len(pairs) > 0
    got = {r["node"]: r["cluster_id"] for r in _neardup_clusters(g).collect()}
    want = union_find_labels(pairs)
    assert got == want


def test_absorb_ivf_batch_probe_equals_rebuild(spark, tmp_path):
    """r15 verdict #7: the plain-IVF serving index gains incremental
    maintenance. absorb_ivf_batch must (a) probe row-identically to
    a full rebuild over the union under the SAME frozen centroids,
    (b) report cell-size drift, flipping retrain when a hot batch
    dumps into one cell (the absorb_ivfpq_batch contract, applied
    to the raw-vector layout)."""
    import numpy as np
    import pandas as pd

    from twitter_etl_spark.index import (
        RETRAIN_IMBALANCE,
        absorb_ivf_batch,
        build_ivf_index,
        probe_ivf_index,
    )

    rng = np.random.default_rng(16)
    dim, k, per = 64, 8, 100
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.repeat(np.arange(k), per)
    vecs = centers[labels] + 0.05 * rng.standard_normal((k * per, dim))

    def pdf_of(ids):
        return pd.DataFrame(
            {
                "vec_id": np.asarray(ids, dtype=np.int64),
                "embedding": [vecs[i].astype(np.float32).tolist() for i in ids],
                "label": labels[ids].astype(np.int32),
            }
        )

    n = k * per
    base_ids = [i for i in range(n) if i % 5 != 0]
    batch_ids = [i for i in range(n) if i % 5 == 0]
    base_sf = str(tmp_path / "base")
    union_sf = str(tmp_path / "union")
    spark.createDataFrame(pdf_of(base_ids)).write.parquet(
        f"{base_sf}/embeddings.parquet"
    )
    spark.createDataFrame(pdf_of(list(range(n)))).write.parquet(
        f"{union_sf}/embeddings.parquet"
    )

    idx = str(tmp_path / "ivf_inc")
    cents = build_ivf_index(spark, base_sf, idx, k=8, iters=3)
    report = absorb_ivf_batch(
        spark, idx, spark.createDataFrame(pdf_of(batch_ids))
    )
    assert report["n_added"] == len(batch_ids)
    assert not report["retrain"]  # uniform batch: no drift

    idx_rb = str(tmp_path / "ivf_rb")
    build_ivf_index(spark, union_sf, idx_rb, centroids=cents)
    q = vecs[0].tolist()
    got = [
        (r["vec_id"], r["cos_sim"])
        for r in probe_ivf_index(spark, idx, q, 2, 10).collect()
    ]
    want = [
        (r["vec_id"], r["cos_sim"])
        for r in probe_ivf_index(spark, idx_rb, q, 2, 10).collect()
    ]
    assert got == want and len(got) == 10

    hot = centers[0] + 0.05 * rng.standard_normal((4 * n, dim))
    hot_pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, n + 4 * n, dtype=np.int64),
            "embedding": [v.astype(np.float32).tolist() for v in hot],
            "label": np.zeros(4 * n, dtype=np.int32),
        }
    )
    report2 = absorb_ivf_batch(spark, idx, spark.createDataFrame(hot_pdf))
    assert report2["imbalance"] > RETRAIN_IMBALANCE and report2["retrain"]


@pytest.mark.slow
def test_curation_rollup_neardup_equals_oneshot(spark, tmp_path):
    """Ingest-time FULL curation (r16): absorbing the sf0.001 corpus
    in two out-of-order batches with neardup=True and regenerating
    the curated set from state must be row-identical to the one-shot
    curate(union, semantic_keep=..., neardup_keep=
    neardup_keep_flags(...)) — the chunks ≡ one-shot contract now
    covering all three dedup stages, in any batch order."""
    from twitter_etl_spark.curation import curate
    from twitter_etl_spark.queries.corpus import neardup_keep_flags
    from twitter_etl_spark.queries.similarity import q_dedup_semantic_adaptive
    from twitter_etl_spark.rollup import (
        curation_keeplist,
        update_curation_rollup,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    docs = table(spark, sf, "documents")
    embs = table(spark, sf, "embeddings")
    mid = 250
    d = str(tmp_path / "cur_nd")
    # out-of-order absorption: high half first
    update_curation_rollup(
        spark, d, docs.filter(F.col("doc_id") >= mid),
        embs.filter(F.col("vec_id") >= mid), neardup=True,
    )
    update_curation_rollup(
        spark, d, docs.filter(F.col("doc_id") < mid),
        embs.filter(F.col("vec_id") < mid), neardup=True,
    )
    got = sorted(
        (r["doc_id"], r["norm_digest"], r["split"])
        for r in curation_keeplist(spark, d).collect()
    )
    sem = q_dedup_semantic_adaptive(spark, sf).select("vec_id", "kept")
    nd = neardup_keep_flags(spark, sf)
    want = sorted(
        (r["doc_id"], r["norm_digest"], r["split"])
        for r in curate(docs, semantic_keep=sem, neardup_keep=nd)
        .select("doc_id", "norm_digest", "split")
        .collect()
    )
    assert got == want
    assert len(got) > 0
    # the near-dup stage must have dropped something vs the
    # semantic-only keeplist (non-vacuous stage)
    d2 = str(tmp_path / "cur_no_nd")
    update_curation_rollup(spark, d2, docs, embs)
    assert len(curation_keeplist(spark, d2).collect()) > len(got)
