"""Corpus-level ops: near-dup clusters (connected components),
adaptive stopword scrub, and the incremental merge family."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _write_docs(spark, rows):
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


def test_cluster_transitivity(spark):
    """A~B and B~C near-dup (but A!~C directly) must land in ONE
    cluster labeled with the min doc_id — the defining property that
    pair output alone does not give you."""
    from twitter_etl_spark.queries.corpus import q_dedup_cluster

    rows = [
        (10, "a b c d e f", "en", "s", 11),   # shingles abc bcd cde def
        (20, "c d e f g h", "en", "s", 11),   # ∩A = {cde,def} -> j=1/3
        (30, "e f g h i j", "en", "s", 11),   # ∩B = {efg,fgh} -> j=1/3, ∩A = ∅
        (40, "z y x w v u", "en", "s", 11),   # isolated: no near-dup pair
    ]
    d = _write_docs(spark, rows)
    out = {r["doc_id"]: r["cluster_id"] for r in q_dedup_cluster(spark, d).collect()}
    assert out == {10: 10, 20: 10, 30: 10}  # one component, canonical=min


def test_cluster_stats_dedup_yield(spark):
    from twitter_etl_spark.queries.corpus import q_dedup_cluster_stats

    rows = [
        (10, "a b c d e f", "en", "s", 11),
        (20, "c d e f g h", "en", "s", 11),
        (30, "e f g h i j", "en", "s", 11),
        (40, "z y x w v u", "en", "s", 11),
    ]
    d = _write_docs(spark, rows)
    [row] = q_dedup_cluster_stats(spark, d).collect()
    assert (row["cluster_id"], row["cluster_size"], row["n_dropped"]) == (10, 3, 2)


def test_corpus_stopwords_scrub(spark):
    """A token in >50% of documents is discovered as boilerplate and
    scrubbed; rare tokens and token order survive."""
    from twitter_etl_spark.queries.corpus import q_text_corpus_stopwords

    rows = [
        (1, "spam alpha beta", "en", "s", 15),
        (2, "gamma spam delta", "en", "s", 16),
        (3, "epsilon zeta spam", "en", "s", 17),
        (4, "eta theta iota", "en", "s", 14),
    ]
    d = _write_docs(spark, rows)
    out = {r["doc_id"]: r for r in q_text_corpus_stopwords(spark, d).collect()}
    assert out[1]["n_stopwords"] == 1  # only 'spam' crosses 50% df
    assert out[1]["scrubbed_text"] == "alpha beta"
    assert out[2]["scrubbed_text"] == "gamma delta"
    assert out[4]["scrubbed_text"] == "eta theta iota"


def test_merge_upsert_latest_wins(spark):
    from twitter_etl_spark.queries.incremental import q_merge_upsert
    from twitter_etl_spark.tables import table

    merged = q_merge_upsert(spark, SF_SMOKE).cache()
    orders = table(spark, SF_SMOKE, "orders")
    # merge never changes cardinality: one row per key
    assert merged.count() == orders.count()
    # every restated key surfaces version 2 with price = round+1.0
    sample = (
        orders.filter(F.col("o_orderkey") % 100 < 10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("p"))
        .limit(5)
        .collect()
    )
    got = {r["o_orderkey"]: r for r in merged.collect()}
    for r in sample:
        assert got[r["o_orderkey"]]["version"] == 2
        assert abs(got[r["o_orderkey"]]["o_totalprice"] - (r["p"] + 1.0)) < 1e-9
    # untouched keys keep version 1
    assert all(
        row["version"] == 1 for k, row in got.items() if k % 100 >= 10
    )
    merged.unpersist()


def test_merge_upsert_plan_is_agg_not_window(spark):
    """The latest-wins pick must be an aggregation with a PARTIAL
    (map-side) phase before the exchange — hot keys collapse before
    they shuffle — and never a window sort over the whole union.
    (Struct-valued max_by buffers take the SortAggregate strategy;
    the partial phase, not the agg flavor, is the skew defense.)"""
    from twitter_etl_spark.queries.incremental import q_merge_upsert

    plan = q_merge_upsert(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_max_by" in plan


def test_unpivot_shape(spark):
    from twitter_etl_spark.queries.incremental import q_fn_unpivot
    from twitter_etl_spark.tables import table

    out = q_fn_unpivot(spark, SF_SMOKE)
    n_status = (
        table(spark, SF_SMOKE, "orders").select("o_orderstatus").distinct().count()
    )
    rows = out.collect()
    assert len(rows) == 3 * n_status
    assert set(r["metric"] for r in rows) == {
        "n_orders", "total_price", "avg_price",
    }
    assert dict(out.dtypes)["value"] == "double"


def test_minhash_banded_finds_near_dups(spark):
    """A true near-dup pair must surface through the banded path
    with its exact verified Jaccard; unrelated docs must not pair.
    md5 banding is deterministic, so this is exact, not flaky."""
    from twitter_etl_spark.queries.corpus import q_dedup_minhash_banded

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    near = base + " w11"  # 8 base shingles ⊂ 9 near shingles -> j = 8/9
    rows = [
        (1, base, "en", "s", 1),
        (2, near, "en", "s", 1),
        (3, "q r s t u v x y z aa bb cc", "en", "s", 1),
    ]
    d = _write_docs(spark, rows)
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in q_dedup_minhash_banded(spark, d).collect()}
    assert set(out) == {(1, 2)}
    assert abs(out[(1, 2)] - 8 / 9) < 1e-6


def test_quantize_roundtrip_error_bound(spark):
    """int8 quantization must reconstruct within half a quantization
    step, and q values must fit int8."""
    from twitter_etl_spark.queries.corpus import q_sim_quantize
    from twitter_etl_spark.tables import table

    got = {r["vec_id"]: r for r in q_sim_quantize(spark, SF_SMOKE).collect()}
    orig = {
        r["vec_id"]: r["embedding"]
        for r in table(spark, SF_SMOKE, "embeddings").limit(20).collect()
    }
    checked = 0
    for vid, vec in orig.items():
        if vid not in got:
            continue
        scale = got[vid]["qscale"]
        q = [int(v) for v in got[vid]["qvec"].split(",")]
        assert len(q) == len(vec)
        assert all(-127 <= v <= 127 for v in q)
        # qscale is rounded to 6 dp, so allow that slack on top of
        # the half-step bound
        for x, qi in zip(vec, q):
            assert abs(x - qi * scale) <= scale / 2 + 1e-4
        checked += 1
    assert checked > 0


def test_ivf_ann_consistent_with_exact(spark):
    """IVF results must carry TRUE cosine scores (identical to the
    exact scan for the same pair) and can never beat the exact top-1
    — the approximation only restricts the candidate set."""
    from twitter_etl_spark.queries.corpus import q_sim_ann_ivf
    from twitter_etl_spark.queries.similarity import q_sim_cosine_topk

    ivf = q_sim_ann_ivf(spark, SF_SMOKE).collect()
    exact = q_sim_cosine_topk(spark, SF_SMOKE).collect()
    exact_scores = {(r["query_id"], r["cand_id"]): r["cos_sim"] for r in exact}
    best_exact = {}
    for r in exact:
        if r["rk"] == 1:
            best_exact[r["query_id"]] = r["cos_sim"]
    assert ivf, "IVF returned nothing"
    per_query = {}
    for r in ivf:
        per_query.setdefault(r["query_id"], []).append(r)
        # same pair -> same exact score (IVF never rescores approximately)
        if (r["query_id"], r["cand_id"]) in exact_scores:
            assert r["cos_sim"] == exact_scores[(r["query_id"], r["cand_id"])]
        assert r["cos_sim"] <= best_exact[r["query_id"]]
    for q, rows in per_query.items():
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r["cos_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
    # recall floor. The fixture embeddings are RANDOM (measured:
    # same-label avg cosine 0.005 vs cross-label -0.001 — no cluster
    # structure), so probing 2 of 10 cells can only reach ~20-40%
    # recall BY CONSTRUCTION; measured 0.1-0.3 per query at sf0.001.
    # The floor here exists to catch probe-selection breakage (wrong
    # cells / empty probes => recall ~0), not to certify ANN quality
    # — on clustered real data the same nprobe recalls 90%+.
    exact_ids = {}
    for r in exact:
        exact_ids.setdefault(r["query_id"], set()).add(r["cand_id"])
    recalls = [
        len(exact_ids[q] & {r["cand_id"] for r in rows}) / len(exact_ids[q])
        for q, rows in per_query.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.15, recalls


def test_ivf_ann_recall_on_clustered_data(spark, tmp_path):
    """ANN QUALITY assertion (r6 verdict #7): on data with real
    cluster structure — the case IVF exists for — nprobe=2 of 10
    cells must recall >= 90% of the exact top-10. The driver fixture
    is random (no structure; the floor test above only guards probe
    breakage), so this builds a deterministic clustered twin:
    10 well-separated unit centers, sigma=0.05 noise, label = true
    cluster, same schema as the fixture."""
    import numpy as np
    import pandas as pd

    from twitter_etl_spark.queries.corpus import q_sim_ann_ivf
    from twitter_etl_spark.queries.similarity import q_sim_cosine_topk

    rng = np.random.default_rng(7)
    dim, k, per = 64, 10, 120
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.repeat(np.arange(k), per)
    vecs = centers[labels] + 0.05 * rng.standard_normal((k * per, dim))
    # vec_id order is cluster-major, so queries (vec_id < 5) all sit
    # in cluster 0 — their exact neighbors share that cell
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(k * per, dtype=np.int64),
            "embedding": [v.astype(np.float32).tolist() for v in vecs],
            "label": labels.astype(np.int32),
        }
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf_dir}/embeddings.parquet")

    exact_ids: dict = {}
    for r in q_sim_cosine_topk(spark, sf_dir).collect():
        exact_ids.setdefault(r["query_id"], set()).add(r["cand_id"])
    got: dict = {}
    for r in q_sim_ann_ivf(spark, sf_dir).collect():
        got.setdefault(r["query_id"], set()).add(r["cand_id"])
    assert set(got) == set(exact_ids)
    recalls = {
        q: len(exact_ids[q] & got.get(q, set())) / len(exact_ids[q])
        for q in exact_ids
    }
    assert sum(recalls.values()) / len(recalls) >= 0.9, recalls


def test_leakage_safe_split_co_travels_duplicates(spark):
    """Documents that normalize to the same text (near-identical
    copies) must land in the SAME split — per-doc hashing would let
    a duplicate straddle train/test."""
    from twitter_etl_spark.queries.corpus import q_sample_leakage_safe

    rows = []
    for i in range(60):
        rows.append((2 * i, f"Hola Mundo numero {i}", "es", "a", 1))
        rows.append((2 * i + 1, f"hola   MUNDO numero {i}", "es", "b", 1))  # dup
    d = _write_docs(spark, rows)
    out = q_sample_leakage_safe(spark, d).collect()
    by_digest = {}
    for r in out:
        by_digest.setdefault(r["norm_digest"], set()).add(r["split"])
    assert len(by_digest) == 60  # pairs collapse to one digest each
    assert all(len(s) == 1 for s in by_digest.values())  # co-travel
    assert len({r["split"] for r in out}) > 1  # and it does split


def test_behavior_transitions_counts(spark):
    from datetime import datetime

    from twitter_etl_spark.queries.behavior import q_behavior_transitions

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # user 1: view -> click -> purchase
        (1, t(1), 1, "view", 1.0, "{}"),
        (2, t(2), 1, "click", 1.0, "{}"),
        (3, t(3), 1, "purchase", 1.0, "{}"),
        # user 2: view -> view
        (4, t(1), 2, "view", 1.0, "{}"),
        (5, t(2), 2, "view", 1.0, "{}"),
        # user 3: single event -> no transition
        (6, t(1), 3, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import os, tempfile

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in q_behavior_transitions(spark, d).collect()
    }
    assert out == {
        ("view", "click"): 1,
        ("click", "purchase"): 1,
        ("view", "view"): 1,
    }


def test_csv_source_roundtrip(spark):
    from twitter_etl_spark.queries.incremental import q_source_csv
    from twitter_etl_spark.tables import table

    back = q_source_csv(spark, SF_SMOKE)
    nation = table(spark, SF_SMOKE, "nation")
    assert back.schema == nation.schema  # explicit schema, no inference
    assert sorted(back.collect()) == sorted(nation.collect())


def test_curate_and_shard_end_to_end(spark):
    """The composed curation pipeline: dedup keeps one copy per
    normalized text, duplicates co-travel into one split, shard
    dirs exist per split, and counts reconcile."""
    from twitter_etl_spark.curation import curate, curate_and_shard
    from twitter_etl_spark.tables import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    curated = curate(docs)
    n = curated.count()
    assert 0 < n <= docs.count()
    assert curated.select("norm_digest").distinct().count() == n  # deduped
    out = os.path.join(tempfile.mkdtemp(), "corpus")
    counts = curate_and_shard(docs, out, n_shards=2)
    assert sum(counts.values()) == n
    for split, c in counts.items():
        if c == 0:
            continue
        back = spark.read.parquet(os.path.join(out, split))
        assert back.count() == c
        assert back.select("shard").distinct().count() <= 2


def test_minhash_band_signatures_match_python_reference(spark):
    """Pin the band-hash construction against an independent
    pure-Python computation: 8 DISTINCT 32-bit slices of
    md5('0|'||x)||md5('1|'||x), min over each doc's shingles. This
    is the guard for the r6 closure bug, where a PySpark
    two-arg-lambda misbinding silently collapsed all 8 bands to one
    position-dependent hash."""
    import hashlib

    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.corpus import _MINHASH_BANDS
    from twitter_etl_spark.queries import corpus as C

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "one two three four five six seven"),
    ]

    def shingles(text):
        t = text.split()
        return sorted({" ".join(t[i : i + 3]) for i in range(len(t) - 2)})

    def digest(x):
        return (
            hashlib.md5(("0|" + x).encode()).hexdigest()
            + hashlib.md5(("1|" + x).encode()).hexdigest()
        )

    expected = {
        (doc_id, b): min(digest(s)[b * 8 : b * 8 + 8] for s in shingles(text))
        for doc_id, text in docs
        for b in range(_MINHASH_BANDS)
    }

    import tempfile, os

    base = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(base, "documents.parquet"))

    # run the PRODUCTION signature helper on the same docs
    from twitter_etl_spark.queries.corpus import minhash_band_sigs
    from twitter_etl_spark.cleaning import tokens
    from twitter_etl_spark.queries.dedup import _shingles
    from twitter_etl_spark.tables import table

    d = table(spark, base, "documents").select("doc_id", tokens().alias("toks"))
    sh = d.select("doc_id", _shingles().alias("s")).filter(F.size("s") > 0)
    rows = minhash_band_sigs(sh).collect()
    got = {(r["doc_id"], r["band"]): r["sig"] for r in rows}
    assert got == expected
    # and the bands really are distinct hash functions per doc
    for doc_id, _ in docs:
        sigs = {expected[(doc_id, b)] for b in range(_MINHASH_BANDS)}
        assert len(sigs) > 1


def test_dsir_separates_target_language(spark):
    """q_text_dsir's importance weight must actually discriminate:
    target-language (en) documents average a strictly higher
    log-weight than the rest of the corpus, and weights are finite.
    (The hash-bucket models see real distribution differences even
    on the synthetic fixture — vocabulary mix differs by lang.)"""
    import math

    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.webcorpus import (
        DSIR_TARGET_LANG,
        q_text_dsir,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    scored = q_text_dsir(spark, sf)
    langs = table(spark, sf, "documents").select("doc_id", "lang")
    rows = (
        scored.join(langs, "doc_id")
        .groupBy((F.col("lang") == DSIR_TARGET_LANG).alias("is_tgt"))
        .agg(F.avg("dsir_logweight").alias("avg_w"))
        .collect()
    )
    means = {r["is_tgt"]: r["avg_w"] for r in rows}
    assert all(math.isfinite(v) for v in means.values())
    assert means[True] > means[False]


def test_cc_star_equals_label_propagation(spark, monkeypatch):
    """Large-star/small-star rounds on Spark and the driver's
    min-label hooking are different algorithms over the same pair
    graph — their outputs must be row-identical (per-doc
    component-min label). ``q_dedup_cluster`` runs the default
    driver finish; ``q_graph_cc_star`` runs with the driver gate at 0,
    so every round is a star round."""
    from twitter_etl_spark.queries import graph
    from twitter_etl_spark.queries.corpus import q_dedup_cluster

    sf = "/root/testdata/sf0.001"
    a = {(r["doc_id"], r["cluster_id"]) for r in q_dedup_cluster(spark, sf).collect()}
    monkeypatch.setattr(graph, "_LOCAL_MAX_PAIRS", 0)
    b = {
        (r["doc_id"], r["cluster_id"])
        for r in graph.q_graph_cc_star(spark, sf).collect()
    }
    assert a == b and len(a) > 0
