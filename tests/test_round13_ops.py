"""Round-13 operator pins: Theil–Sen vs a NumPy replica (with an
even pair count — the lower/upper-middle median branch), Welch t vs
a from-scratch replica, PPR integer fixed-point vs a dict replica,
C4 rule flags on crafted docs, soft-dedup weight conservation."""

from __future__ import annotations

import datetime as dt
import math
import os
import tempfile

import numpy as np

from pyspark.sql import functions as F


def _write(df, d, name):
    df.write.mode("overwrite").parquet(os.path.join(d, f"{name}.parquet"))


def test_theilsen_matches_numpy_even_pair_count(spark):
    """9 days -> 36 pairs (even): the median is the average of the
    two middle slopes, the branch Spark float-division would have
    silently broken (see the DIV note in q_ts_theilsen)."""
    from twitter_etl_spark.queries.timeseries import q_ts_theilsen

    days = [dt.datetime(2026, 1, 1) + dt.timedelta(days=i) for i in range(9)]
    counts = [3, 1, 4, 1, 5, 9, 2, 6, 5]  # deliberately non-monotone
    rows = []
    eid = 0
    for d, c in zip(days, counts):
        for _ in range(c):
            rows.append((eid, 1, "click", d))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts"]
    )
    d = tempfile.mkdtemp()
    _write(df, d, "events")
    out = q_ts_theilsen(spark, d).collect()
    assert len(out) == 1
    got = out[0]
    slopes = sorted(
        (counts[j] - counts[i]) / (j - i)
        for i in range(9)
        for j in range(i + 1, 9)
    )
    m = len(slopes)
    assert m % 2 == 0 and got["n_pairs"] == m
    want = (slopes[m // 2 - 1] + slopes[m // 2]) / 2
    assert math.isclose(got["sen_slope"], round(want, 6), abs_tol=1e-9)


def test_welch_t_matches_replica(spark):
    """q_stat_welch_t vs a from-scratch replica on the sf0.001
    customer fixture (same cents quantization, same formula)."""
    from twitter_etl_spark.queries.sketches import q_stat_welch_t
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    got = q_stat_welch_t(spark, sf).collect()[0]
    rows = (
        table(spark, sf, "customer")
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"))
        .select("c_mktsegment", "c_acctbal")
        .collect()
    )
    a = [
        math.floor(round(r["c_acctbal"], 9) * 100 + 0.5)
        for r in rows
        if r["c_mktsegment"] == "AUTOMOBILE"
    ]
    b = [
        math.floor(round(r["c_acctbal"], 9) * 100 + 0.5)
        for r in rows
        if r["c_mktsegment"] == "MACHINERY"
    ]
    na, nb = len(a), len(b)
    va = (sum(x * x for x in a) - sum(a) ** 2 / na) / (na - 1)
    vb = (sum(x * x for x in b) - sum(b) ** 2 / nb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (sum(a) / na - sum(b) / nb) / math.sqrt(se2)
    df_w = se2**2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    assert (got["n_a"], got["n_b"]) == (na, nb)
    assert math.isclose(got["t_stat"], round(t, 6), abs_tol=1e-6)
    assert math.isclose(got["df_welch"], round(df_w, 4), abs_tol=1e-4)
    assert math.isclose(got["mean_a"], round(sum(a) / na / 100, 6), abs_tol=1e-6)


def test_ppr_matches_integer_replica(spark, monkeypatch):
    """q_graph_ppr vs a dict replica of the exact integer fixed-point
    recurrence (floor divs in the same places) on sf0.001, both with
    the NumPy finish (default gate) and with the Spark rounds (gate
    0); also pins that teleport mass flows only to seeds."""
    from twitter_etl_spark.queries import graph
    from twitter_etl_spark.queries.graph import (
        _PPR_ITERS,
        _PPR_SEEDS,
        PR_SCALE,
        _edges,
        q_graph_ppr,
    )

    sf = "/root/testdata/sf0.001"
    e = {(r["a"], r["b"]) for r in _edges(spark, sf).collect()}
    sym = list(e) + [(b, a) for a, b in e]
    deg: dict = {}
    for s, _ in sym:
        deg[s] = deg.get(s, 0) + 1
    seeds = [
        n for n, _ in sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))
    ][:_PPR_SEEDS]
    seed_base = PR_SCALE // _PPR_SEEDS
    teleport = (15 * seed_base) // 100
    ranks = {s: seed_base for s in seeds}
    for _ in range(_PPR_ITERS):
        spread: dict = {}
        for s, dnode in sym:
            if s in ranks:
                spread[dnode] = spread.get(dnode, 0) + ranks[s] // deg[s]
        nxt = {n: (85 * c) // 100 for n, c in spread.items()}
        for s in seeds:
            nxt[s] = nxt.get(s, 0) + teleport
        ranks = nxt
    want = sorted(ranks.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    for gate in (graph._LOCAL_MAX_PAIRS, 0):
        monkeypatch.setattr(graph, "_LOCAL_MAX_PAIRS", gate)
        got = [(r["node"], r["rank_fp"]) for r in q_graph_ppr(spark, sf).collect()]
        assert got == want, gate


def test_c4_rules_flags_each_rule(spark):
    from twitter_etl_spark.queries.llmprep import q_quality_c4_rules

    docs = [
        (1, "A clean sentence with enough words here.", "en", "s1", 41),
        (2, "code { leaks } into prose words here.", "en", "s1", 30),
        (3, "Lorem Ipsum dolor sit amet body text.", "en", "s1", 30),
        (4, "Enable JavaScript to view this page now.", "en", "s1", 30),
        (5, "Read our privacy policy and terms today.", "en", "s1", 30),
        (6, "too short.", "en", "s1", 10),
        (7, "no terminal punctuation in this one at all", "en", "s1", 43),
    ]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = tempfile.mkdtemp()
    _write(df, d, "documents")
    r = q_quality_c4_rules(spark, d).collect()[0]
    assert r["n_docs"] == 7
    assert r["n_brace_ok"] == 6
    assert r["n_lorem_ok"] == 6
    assert r["n_js_ok"] == 6
    assert r["n_policy_ok"] == 6
    assert r["n_words_ok"] == 6  # doc 6 has 2 words
    assert r["n_punct_ok"] == 6
    assert r["n_pass_all"] == 1  # only doc 1 passes everything


def test_soft_weights_conserve_cluster_mass(spark):
    """Per duplicate cluster: Σ soft_weight == 1 (each cluster
    contributes one document's worth of sampling mass) and
    Σ eff_tokens == cluster token count / cluster size summed —
    checked on sf0.001 where q_dedup_normalized gives cluster
    sizes to cross-check dup_count against."""
    from twitter_etl_spark.queries.dedup import (
        q_dedup_normalized,
        q_dedup_soft_weights,
    )

    sf = "/root/testdata/sf0.001"
    out = q_dedup_soft_weights(spark, sf)
    n_docs = out.count()
    # every doc exactly once
    assert out.select("doc_id").distinct().count() == n_docs
    # cluster-mass conservation: total weight == number of clusters
    total_w = out.agg(F.sum("soft_weight")).collect()[0][0]
    n_clusters = q_dedup_normalized(spark, sf).count()
    assert abs(total_w - n_clusters) < 1e-3
    # dup_count distribution must match the normalized dedup's
    sizes_a = sorted(
        r["n_copies"] for r in q_dedup_normalized(spark, sf).collect()
    )
    sizes_b = []
    for r in out.groupBy("dup_count").count().collect():
        n_clusters_of_size, rem = divmod(r["count"], r["dup_count"])
        assert rem == 0  # row count per size divisible by the size
        sizes_b += [r["dup_count"]] * n_clusters_of_size
    assert sizes_a == sorted(sizes_b)


def test_mix_epochs_capped_budget_conserved_and_cap_respected(spark):
    """Σ alloc_tok == budget (2·Σ n_tok) exactly up to rounding, no
    language exceeds the cap, and at least one capped + one uncapped
    language exist on the sf0.01 fixture (the partial-binding regime
    the constants were chosen for)."""
    from twitter_etl_spark.queries.webcorpus import (
        MIX_EPOCH_CAP,
        q_mix_epochs_capped,
    )

    rows = q_mix_epochs_capped(spark, "/root/testdata/sf0.01").collect()
    total_n = sum(r["n_tok"] for r in rows)
    assert abs(sum(r["alloc_tok"] for r in rows) - 2.0 * total_n) < 0.1
    assert all(r["epochs"] <= MIX_EPOCH_CAP + 1e-9 for r in rows)
    kinds = {r["capped"] for r in rows}
    assert kinds == {0, 1}


def test_mix_epochs_capped_two_round_cascade(spark):
    """Water-filling cascade: a crafted corpus where round 1 caps the
    smallest language and the redistributed budget pushes the SECOND
    language over in round 2 — pinned against a Python replica of the
    exact recurrence."""
    import os
    import tempfile

    from twitter_etl_spark.queries.webcorpus import (
        MIX_CAP_ROUNDS,
        MIX_EPOCH_CAP,
        MIX_TAU,
        q_mix_epochs_capped,
    )

    # token counts engineered so caps bind in sequence: tiny gets a
    # huge temperature boost; once frozen, mid crosses the cap too
    specs = [("aa", 8), ("bb", 640), ("cc", 1144)]
    docs, did = [], 0
    for lang, n_tok in specs:
        # 8 tokens per doc
        for _ in range(n_tok // 8):
            docs.append((did, "w " * 7 + "w", lang, "s", 15))
            did += 1
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    n = {lang: t for lang, t in specs}
    B = 2.0 * sum(n.values())
    p = {k: v**MIX_TAU for k, v in n.items()}
    fixed: dict = {}
    rounds_with_new = 0
    for _ in range(MIX_CAP_ROUNDS):
        act = [k for k in n if k not in fixed]
        rem = B - sum(fixed.values())
        pact = sum(p[k] for k in act)
        newly = [k for k in act if p[k] / pact * rem > MIX_EPOCH_CAP * n[k]]
        if newly:
            rounds_with_new += 1
        for k in newly:
            fixed[k] = MIX_EPOCH_CAP * n[k]
    assert rounds_with_new >= 2, "fixture fails to cascade; retune specs"
    act = [k for k in n if k not in fixed]
    rem = B - sum(fixed.values())
    pact = sum(p[k] for k in act)
    want = {
        k: (fixed[k] if k in fixed else p[k] / pact * rem) for k in n
    }
    got = {r["lang"]: r for r in q_mix_epochs_capped(spark, d).collect()}
    for k in n:
        assert abs(got[k]["alloc_tok"] - round(want[k], 2)) < 1e-6, k
        assert got[k]["capped"] == int(k in fixed)


def test_hits_matches_integer_replica(spark):
    """q_graph_hits vs a dict replica of the exact fixed-point
    recurrence (same floor divs, same max normalization) on
    sf0.001; also pins hub/authority side separation."""
    from twitter_etl_spark.queries.graph import (
        _HITS_ITERS,
        _HITS_SCALE,
        q_graph_hits,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = {
        (r["o_custkey"], r["l_suppkey"])
        for r in o.join(li, o["o_orderkey"] == li["l_orderkey"]).collect()
    }
    hubs = {c: _HITS_SCALE for c, _ in edges}
    for _ in range(_HITS_ITERS):
        ar: dict = {}
        for c, s in edges:
            if c in hubs:
                ar[s] = ar.get(s, 0) + hubs[c]
        am = max(ar.values())
        auths = {s: (v * _HITS_SCALE) // am for s, v in ar.items()}
        hr: dict = {}
        for c, s in edges:
            if s in auths:
                hr[c] = hr.get(c, 0) + auths[s]
        hm = max(hr.values())
        hubs = {c: (v * _HITS_SCALE) // hm for c, v in hr.items()}
    want_a = sorted(auths.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    want_h = sorted(hubs.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = q_graph_hits(spark, sf).collect()
    got_a = [(r["node"], r["score_fp"]) for r in got if r["kind"] == "authority"]
    got_h = [(r["node"], r["score_fp"]) for r in got if r["kind"] == "hub"]
    assert got_a == want_a
    assert got_h == want_h


def test_softdedup_rollup_chunks_equal_oneshot_and_replay_safe(spark):
    """Absorb the sf0.001 corpus in 3 chunks: the finalized digest
    weights must equal the one-shot q_dedup_soft_weights aggregated
    to digest grain; replaying a batch_id must be a no-op (the
    plain-sum monoid double-counts without the high-water mark)."""
    import tempfile

    from twitter_etl_spark.rollup import (
        read_softdedup_weights,
        update_softdedup_rollup,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    d = table(spark, sf, "documents")
    rd = tempfile.mkdtemp()
    for i in range(3):
        update_softdedup_rollup(
            spark, rd, d.where(F.col("doc_id") % 3 == i), batch_id=i
        )
    got = {
        r["norm_digest"]: (r["dup_count"], r["keeper_doc_id"], r["soft_weight"])
        for r in read_softdedup_weights(spark, rd).collect()
    }
    # reference: the one-shot view aggregated to digest grain
    from twitter_etl_spark.cleaning import clean_chain

    ref = (
        d.select("doc_id", F.md5(clean_chain(F.col("text"))).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("mn"))
        .collect()
    )
    want = {r["g"]: (r["n"], r["mn"], round(1.0 / r["n"], 6)) for r in ref}
    assert got == want
    # replay: batch_id 2 again — version unchanged, counts unchanged
    v_before = update_softdedup_rollup(
        spark, rd, d.where(F.col("doc_id") % 3 == 2), batch_id=2
    )
    got2 = {
        r["norm_digest"]: (r["dup_count"], r["keeper_doc_id"], r["soft_weight"])
        for r in read_softdedup_weights(spark, rd).collect()
    }
    assert got2 == want
    # and a genuinely new batch still absorbs
    extra = spark.createDataFrame(
        [(999999, "replay sentinel text", "en", "s", 20)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    v_after = update_softdedup_rollup(spark, rd, extra, batch_id=3)
    assert v_after > v_before
    assert len(read_softdedup_weights(spark, rd).collect()) == len(want) + 1


def test_sample_rollup_chunks_equal_oneshot_and_idempotent(spark):
    """min-k monoid: absorbing the sf0.001 corpus in 4 chunks must
    yield EXACTLY the k smallest (key, doc_id) rows of the whole
    corpus (the one-shot order-by-key pick); re-absorbing a chunk is
    idempotent (deterministic keys + doc_id dedup)."""
    import tempfile

    from twitter_etl_spark.rollup import (
        SAMPLE_ROLLUP_K,
        _sample_keys,
        read_sample_rollup,
        update_sample_rollup,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    d = table(spark, sf, "documents")
    rd = tempfile.mkdtemp()
    for i in range(4):
        update_sample_rollup(spark, rd, d.where(F.col("doc_id") % 4 == i))
    got = sorted(
        (r["sample_key"], r["doc_id"]) for r in read_sample_rollup(spark, rd).collect()
    )
    allk = sorted(
        (r["sample_key"], r["doc_id"]) for r in _sample_keys(d).collect()
    )
    assert got == allk[:SAMPLE_ROLLUP_K]
    v = update_sample_rollup(spark, rd, d.where(F.col("doc_id") % 4 == 2))
    got2 = sorted(
        (r["sample_key"], r["doc_id"])
        for r in read_sample_rollup(spark, rd, v).collect()
    )
    assert got2 == got


def test_sample_rollup_changed_text_deterministic_survivor(spark):
    """r13 advice: re-absorbing a doc_id with CHANGED text produces
    two candidate rows with different sample_keys; the survivor must
    be the MIN key (what the one-shot over the union ranks by), not
    an arbitrary dropDuplicates pick. Run the merge both
    batch-orders and demand identical published state."""
    import tempfile

    from twitter_etl_spark.rollup import (
        read_sample_rollup,
        update_sample_rollup,
    )

    a = spark.createDataFrame(
        [(i, "en", f"text v1 of {i}") for i in range(30)],
        ["doc_id", "lang", "text"],
    )
    b = spark.createDataFrame(
        [(i, "en", f"text v2 of {i}") for i in range(30)],
        ["doc_id", "lang", "text"],
    )
    states = []
    for first, second in ((a, b), (b, a)):
        rd = tempfile.mkdtemp()
        update_sample_rollup(spark, rd, first, k=10)
        v = update_sample_rollup(spark, rd, second, k=10)
        states.append(
            sorted(
                (r["doc_id"], r["sample_key"])
                for r in read_sample_rollup(spark, rd, v).collect()
            )
        )
    assert states[0] == states[1]
    # and each survivor is the min of that doc's two candidate keys
    from twitter_etl_spark.rollup import _sample_keys

    keys = {}
    for r in _sample_keys(a.unionByName(b)).collect():
        keys.setdefault(r["doc_id"], []).append(r["sample_key"])
    for doc_id, key in states[0]:
        assert key == min(keys[doc_id]), doc_id


def test_knn_graph_mutual_and_bounded(spark):
    """Every mutual edge must appear in BOTH endpoints' directed
    top-k (mutuality), no vector holds more than k edges, and every
    edge is one of the near-dup scan's pairs (the 0.35 floor)."""
    from twitter_etl_spark.queries.similarity import (
        _KNN_GRAPH_K,
        q_sim_embedding_neardup,
        q_sim_knn_graph,
    )

    sf = "/root/testdata/sf0.001"
    edges = [
        (r["vec_a"], r["vec_b"]) for r in q_sim_knn_graph(spark, sf).collect()
    ]
    assert edges and len(set(edges)) == len(edges)
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in q_sim_embedding_neardup(spark, sf).collect()
    }
    assert set(edges) <= pairs
    from collections import Counter

    degree = Counter()
    for a, b in edges:
        degree[a] += 1
        degree[b] += 1
    assert max(degree.values()) <= _KNN_GRAPH_K


def test_topk_paths_sessionization_and_prefix(spark):
    """Crafted events: a 31-minute gap must split the session (two
    path rows), and a 7-event session must truncate to the first
    _PATH_LEN types — pinned against hand-computed paths."""
    from twitter_etl_spark.queries.behavior import (
        _PATH_LEN,
        q_behavior_topk_paths,
    )

    t0 = dt.datetime(2026, 2, 1, 12, 0, 0)

    rows = []
    # user 1: 7 events 1 min apart -> one session, path = first 5
    types = ["view", "click", "click", "purchase", "view", "click", "error"]
    for i, ty in enumerate(types):
        rows.append((i, 1, ty, t0 + dt.timedelta(minutes=i)))
    # user 2: 2 events split by a 31-minute gap -> two 1-event paths
    rows.append((100, 2, "signup", t0))
    rows.append((101, 2, "view", t0 + dt.timedelta(minutes=31)))
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts"]
    )
    d = tempfile.mkdtemp()
    _write(df, d, "events")
    got = {
        r["path"]: r["n_sessions"]
        for r in q_behavior_topk_paths(spark, d).collect()
    }
    assert got == {
        ">".join(types[:_PATH_LEN]): 1,
        "signup": 1,
        "view": 1,
    }


def test_pmi_matches_python_replica(spark):
    """q_text_pmi vs a from-scratch replica (same cap, same support
    floor, same formula) on sf0.001."""
    from collections import Counter

    from twitter_etl_spark.queries.text import (
        _PMI_DOC_CAP,
        _PMI_MIN_PAIRS,
        _PMI_TOPK,
        q_text_pmi,
    )
    from twitter_etl_spark.tables import table

    sf = "/root/testdata/sf0.001"
    docs = table(spark, sf, "documents").select("doc_id", "text").collect()
    n = len(docs)
    dfa: Counter = Counter()
    dfab: Counter = Counter()
    for r in docs:
        toks = sorted(
            {t for t in r["text"].strip().split() if len(t) >= 2}
        )[:_PMI_DOC_CAP]
        dfa.update(toks)
        for i in range(len(toks)):
            for j in range(i + 1, len(toks)):
                dfab[(toks[i], toks[j])] += 1
    cands = [
        (t1, t2, c, round(math.log(n * c / (dfa[t1] * dfa[t2])), 6))
        for (t1, t2), c in dfab.items()
        if c >= _PMI_MIN_PAIRS
    ]
    want = sorted(cands, key=lambda x: (-x[3], x[0], x[1]))[:_PMI_TOPK]
    got = [
        (r["t1"], r["t2"], r["df_ab"], r["pmi"])
        for r in q_text_pmi(spark, sf).collect()
    ]
    assert got == want
