"""Dedup determinism (SURVEY.md §4.3.1) and fingerprint sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from twitter_etl_spark.pipeline import transform_documents

from conftest import SF_ORACLE


def test_keep_first_dedup_deterministic(spark):
    rows = [
        (10, "Hola mundo", "es", "s1", 10),
        (3, "hola   MUNDO", "es", "s2", 12),  # same after cleaning; lowest id
        (7, "hola mundo", "es", "s3", 10),
        (5, "otra cosa distinta", "es", "s4", 18),
        (1, "english text", "en", "s5", 12),  # filtered out
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r["tweet_id"]: r for r in transform_documents(df).collect()}
    # the three es-duplicates collapse to the smallest id (3)
    assert set(out) == {3, 5}
    assert out[3]["source"] == "s2"


def test_simhash_similar_docs_close(spark):
    from twitter_etl_spark.queries.dedup import q_dedup_simhash

    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base + "extra token"
    far = "completely different vocabulary entirely unrelated words " * 5
    df = spark.createDataFrame(
        [(1, base, "en", "s", 1), (2, near, "en", "s", 1), (3, far, "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    import tempfile, os

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    fp = {r["doc_id"]: r["simhash"] for r in q_dedup_simhash(spark, d).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(fp[1], fp[2]) < hamming(fp[1], fp[3])


def test_exact_dedup_counts(spark):
    from twitter_etl_spark.queries.dedup import q_dedup_exact_global
    import tempfile, os

    df = spark.createDataFrame(
        [(1, "aa", "en", "s", 2), (2, "aa", "en", "s", 2), (3, "bb", "en", "s", 2)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r["text"]: r for r in q_dedup_exact_global(spark, d).collect()}
    assert out["aa"]["keeper_doc_id"] == 1 and out["aa"]["n_copies"] == 2
    assert out["bb"]["n_copies"] == 1


def test_simhash_banded_pairs(spark):
    """Band-bucketed Hamming pairs: identical docs pair at distance
    0; an unrelated doc pairs with neither."""
    from twitter_etl_spark.queries.dedup import q_dedup_simhash_pairs
    import tempfile, os

    base = "the quick brown fox jumps over the lazy dog " * 5
    far = "completely different vocabulary entirely unrelated words " * 5
    df = spark.createDataFrame(
        [(1, base, "en", "s", 1), (2, base, "en", "s", 1), (3, far, "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    rows = q_dedup_simhash_pairs(spark, d).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in rows] == [(1, 2, 0)]


def test_ngram_jaccard_df_cap(spark):
    """Stop-shingle buckets above max_df are dropped before pair
    generation: pairs supported only by a hot shingle vanish, pairs
    supported by rare shingles survive, and the diagnostic names the
    dropped shingle. Bounds the in-bucket quadratic at scale."""
    from twitter_etl_spark.queries.dedup import (
        ngram_jaccard_dropped_shingles,
        q_dedup_ngram_jaccard,
    )
    import tempfile, os

    rows = [(i, "zz zz zz", "en", "s", 8) for i in range(1, 7)]  # hot: df=6
    rows += [
        (10, "aa bb cc dd", "en", "s", 11),
        (11, "aa bb cc dd ee", "en", "s", 14),  # 2/3 jaccard with 10
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    capped = q_dedup_ngram_jaccard(spark, d, max_df=5)
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert pairs == {(10, 11)}  # all 15 hot-only pairs dropped

    # default cap (128) leaves this tiny corpus untouched
    full = q_dedup_ngram_jaccard(spark, d)
    assert {(r["doc_a"], r["doc_b"]) for r in full.collect()} == pairs | {
        (a, b) for a in range(1, 7) for b in range(a + 1, 7)
    }

    dropped = ngram_jaccard_dropped_shingles(spark, d, max_df=5).collect()
    assert [(r["shingle"], r["df"]) for r in dropped] == [("zz zz zz", 6)]

    # the cap is in the plan, between the bucket agg and the explode
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "size(docs" in plan


def test_approx_percentile_within_tolerance(spark):
    """Sketch percentiles must track the exact percentiles within a
    loose relative tolerance (accuracy 10000 is far tighter)."""
    from twitter_etl_spark.queries.aggregates import q_agg_approx_percentile
    from twitter_etl_spark.queries.extras import q_agg_percentile

    sf = SF_ORACLE
    exact = {r["c_mktsegment"]: r for r in q_agg_percentile(spark, sf).collect()}
    approx = {
        r["c_mktsegment"]: r for r in q_agg_approx_percentile(spark, sf).collect()
    }
    assert set(exact) == set(approx)
    for seg in exact:
        for e_col, a_col in (
            ("median_bal", "median_bal_approx"),
            ("p90_bal", "p90_bal_approx"),
        ):
            e, a = exact[seg][e_col], approx[seg][a_col]
            assert abs(a - e) <= max(10.0, 0.05 * abs(e)), (seg, e_col, e, a)


def test_approx_distinct_within_tolerance(spark):
    """HLL approx_count_distinct (rows-only in the oracle gate) must
    track the exact distinct counts within its configured 1% rsd
    (checked at 5% to avoid flakiness)."""
    from twitter_etl_spark.queries.aggregates import (
        q_agg_approx_distinct,
        q_agg_distinct,
    )

    sf = SF_ORACLE
    exact = {r["event_type"]: r["n_users"] for r in q_agg_distinct(spark, sf).collect()}
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in q_agg_approx_distinct(spark, sf).collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(1, 0.05 * exact[k]), (k, exact[k], approx[k])


def test_ngram_jaccard_digest_keys_identical(spark):
    """The xxhash64 shuffle-key variant (cluster path: ~4x fewer
    shuffle bytes) must produce the exact pair set of the string-key
    default at fixture scale (no 64-bit collisions there)."""
    from twitter_etl_spark.queries.dedup import q_dedup_ngram_jaccard

    d = SF_ORACLE
    a = sorted(map(tuple, q_dedup_ngram_jaccard(spark, d).collect()))
    b = sorted(
        map(tuple, q_dedup_ngram_jaccard(spark, d, digest_keys=True).collect())
    )
    assert a == b and len(a) > 0


def test_paragraph_dedup_removes_later_duplicate_spans(spark, tmp_path):
    """Constructed case: doc 2 repeats doc 1's first span (span =
    4 tokens) and has one unique span; dedup must drop the repeat
    from doc 2 only, reassemble in order, and keep counts honest.
    Doc 3 is entirely a copy of doc 1's span -> empty text, kept 0."""
    from pyspark.sql import functions as F

    from twitter_etl_spark.queries.dedup import q_dedup_paragraph

    shared = "alpha beta gamma delta"
    rows = [
        (1, shared + " epsilon zeta eta theta", "en", "s", 40),
        (2, shared + " iota kappa lambda mu", "en", "s", 40),
        (3, shared, "en", "s", 20),
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")
    out = {r["doc_id"]: r for r in q_dedup_paragraph(spark, sf).collect()}
    assert out[1]["text_dedup"] == shared + " epsilon zeta eta theta"
    assert (out[1]["kept_spans"], out[1]["total_spans"]) == (2, 2)
    assert out[2]["text_dedup"] == "iota kappa lambda mu"
    assert (out[2]["kept_spans"], out[2]["total_spans"]) == (1, 2)
    assert out[3]["text_dedup"] == ""
    assert (out[3]["kept_spans"], out[3]["total_spans"]) == (0, 1)


def test_incremental_dedup_invariants(spark):
    """q_dedup_incremental: no survivor digest may exist in the base
    corpus, every re-crawled row must be dropped, and genuinely-new
    batch rows must all survive (the fixture has no exact dups, so
    survivor count == new-page count)."""
    from twitter_etl_spark.queries.dedup import (
        _INCR_RECRAWL_SHIFT,
        q_dedup_incremental,
    )
    from twitter_etl_spark.queries.sampling import hash_bucket
    from twitter_etl_spark.tables import table

    from conftest import SF_SMOKE

    out = q_dedup_incremental(spark, SF_SMOKE)
    d = table(spark, SF_SMOKE, "documents").select(
        "doc_id",
        F.md5("text").alias("digest"),
        hash_bucket(F.col("text")).alias("bk"),
    )
    base = d.where(F.col("bk") < 80).select("digest").distinct()
    # 1. survivors are disjoint from the base digest set
    assert out.join(base, "digest").count() == 0
    # 2. every re-crawled row (shifted doc_id) was dropped: its
    #    digest is by construction in the base (bk < 20 < 80)
    assert out.where(F.col("keeper_doc_id") >= _INCR_RECRAWL_SHIFT).count() == 0
    # 3. all genuinely-new pages survive (no exact dups in fixture)
    n_new = d.where(F.col("bk") >= 80).count()
    assert out.count() == n_new


def test_exact_substring_finds_cross_doc_span(spark, tmp_path):
    """Two documents sharing a verbatim 9-token boilerplate span at
    DIFFERENT positions must surface repeated grams (token-anchored
    windows are position-independent — the property fixed-stride
    character windows lack); within-doc repetition alone (doc 3)
    must NOT (n_docs >= 2 is cross-document)."""
    import pandas as pd

    from twitter_etl_spark.queries.dedup import q_dedup_exact_substring

    boiler = "this exact license header text is repeated verbatim everywhere"
    selfrep = "alpha beta gamma delta epsilon zeta eta theta"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "intro words " + boiler + " trailing one",
                boiler + " completely different tail text here",
                selfrep + " " + selfrep,  # self-repetition only
                "short doc",  # below the window length
            ],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [0, 0, 0, 0],
        }
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = q_dedup_exact_substring(spark, str(tmp_path)).collect()
    assert rows, "shared boilerplate must produce repeated grams"
    assert all(r.n_docs >= 2 for r in rows)
    # the 9-token boilerplate contributes exactly 2 shared 8-token
    # windows (offsets 0 and 1 within the span), each once per doc
    assert sorted((r.n_docs, r.n_occ) for r in rows) == [(2, 2), (2, 2)]


def test_exact_substring_invariants_and_plan(spark):
    """Structural invariants at SF_ORACLE: every reported gram is
    cross-document, occurrence count bounds hold, and the plan is
    one hash agg over a generated-column projection (no join, no
    window)."""
    from twitter_etl_spark.queries.dedup import q_dedup_exact_substring

    df = q_dedup_exact_substring(spark, SF_ORACLE)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p and "Window" not in p
    rows = df.collect()
    assert rows
    assert all(r.n_docs >= 2 and r.n_occ >= r.n_docs for r in rows)
    assert all(len(r.gram_hash) == 32 for r in rows)


def test_sample_weighted_is_deterministic_and_replicated(spark):
    """q_sample_weighted pinned against an independent pure-Python
    replica of the exponential-key formula (md5 -> uniform ->
    -ln(u)/w), and stable under repartitioning."""
    import hashlib
    import math

    from twitter_etl_spark.queries.sampling import q_sample_weighted
    from twitter_etl_spark.tables import table

    got = q_sample_weighted(spark, SF_ORACLE).collect()
    assert len(got) == 50
    keys = [r.sample_key for r in got]
    assert keys == sorted(keys)
    # independent replica over the full table
    docs = table(spark, SF_ORACLE, "documents").select(
        "doc_id", "text", "n_chars"
    ).collect()
    rep = []
    for r in docs:
        u = (
            int(hashlib.md5(r.text.encode()).hexdigest()[:8], 16)
            % 1_000_000_000
            + 1
        ) / 1_000_000_001.0
        w = max(r.n_chars, 1)
        rep.append((round(-math.log(u) / w, 9), r.doc_id))
    rep.sort()
    assert [(r.sample_key, r.doc_id) for r in got] == rep[:50]
    # layout independence: same winners after a shuffle-inducing
    # repartition of the input path (re-running the query is enough —
    # it reads the same files; determinism is hash-only)
    again = q_sample_weighted(spark, SF_ORACLE).collect()
    assert got == again


def test_containment_catches_subsumed_doc_jaccard_misses(spark, tmp_path):
    """The motivating case: doc 1 fully embedded in the much longer
    doc 2 scores containment 1.0 while its Jaccard is far below the
    0.3 report threshold — the subset-detection gap containment
    closes."""
    import pandas as pd

    from twitter_etl_spark.queries.dedup import (
        q_dedup_containment,
        q_dedup_ngram_jaccard,
    )

    short = " ".join(f"tok{i}" for i in range(10))
    long = short + " " + " ".join(f"pad{i}" for i in range(60))
    other = " ".join(f"zzz{i}" for i in range(12))
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [short, long, other],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(short), len(long), len(other)],
        }
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)
    cont = {(r.doc_a, r.doc_b): r for r in q_dedup_containment(spark, sf).collect()}
    assert (1, 2) in cont
    assert cont[(1, 2)].contain_a_in_b == 1.0  # all of doc 1's shingles
    assert cont[(1, 2)].contain_b_in_a < 0.2
    jac = {(r.doc_a, r.doc_b) for r in q_dedup_ngram_jaccard(spark, sf).collect()}
    assert (1, 2) not in jac  # jaccard-only dedup misses the subset


def test_bloom_no_false_negatives_and_split_parity(spark):
    """q_dedup_bloom: a bloom filter can false-positive but NEVER
    false-negative — every exact duplicate must be flagged — and its
    batch universe is exactly q_dedup_incremental's (same re-crawl
    split), so the two membership strategies are comparable row for
    row."""
    from conftest import SF_SMOKE

    from twitter_etl_spark.queries.dedup import q_dedup_bloom

    for sf in (SF_SMOKE, SF_ORACLE):
        rows = q_dedup_bloom(spark, sf).collect()
        assert rows
        assert not any(
            r["exact_dup"] == 1 and r["bloom_hit"] == 0 for r in rows
        ), "bloom filters have no false negatives"
        # the re-crawled 20% guarantees true hits exist
        assert any(r["exact_dup"] == 1 for r in rows)


def test_minhash_est_error_bounded_and_pairs_match_exact(spark):
    """q_dedup_minhash_est: the estimator's pair set is exactly the
    exact-Jaccard near-dup pair set (same pipeline, same threshold),
    every estimate lands in [0,1], and the K=64 estimation error
    stays within ~2 sigma (sqrt(J(1-J))/8 ~ 0.057 at J=0.3) on the
    deterministic fixture."""
    from conftest import SF_ORACLE

    from twitter_etl_spark.queries.dedup import (
        q_dedup_minhash_est,
        q_dedup_ngram_jaccard,
    )

    est = q_dedup_minhash_est(spark, SF_ORACLE).collect()
    assert est
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_ngram_jaccard(spark, SF_ORACLE).collect()
    }
    assert {(r["doc_a"], r["doc_b"]) for r in est} == exact
    assert all(0.0 <= r["jaccard_est"] <= 1.0 for r in est)
    assert all(r["abs_err"] <= 0.12 for r in est)


def test_substring_cut_removes_later_occurrences_only(spark, tmp_path):
    """Cut semantics on a micro corpus: a shared 8-token span at
    DIFFERENT offsets survives only at its globally-first occurrence
    (doc 1); the later doc loses exactly the span's tokens and keeps
    its own words; a self-repeating doc loses its second copy
    (within-doc repeats are cut too — the q_dedup_exact_substring
    n_docs>=2 rule deliberately does NOT apply); untouched docs
    reassemble to their own token join."""
    import hashlib

    import pandas as pd

    from twitter_etl_spark.queries.dedup import q_dedup_substring_cut

    boiler = "one two three four five six seven eight"  # exactly 8 tokens
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": [
                "intro words " + boiler,
                boiler + " different tail",
                boiler + " " + boiler,  # self-repetition
                "short doc",
                "",  # empty: toks == [''] — boundary for sequence()
                None,  # null text: toks is NULL, size == -1
            ],
            "lang": ["en"] * 6,
            "source": ["s"] * 6,
            "n_chars": [0, 0, 0, 0, 0, 0],
        }
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.doc_id: (r.text_cut_md5, r.cut_tokens, r.kept_tokens)
        for r in q_dedup_substring_cut(spark, str(tmp_path)).collect()
    }

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    # doc 1 holds the first occurrence (min (doc_id, pos)) — intact
    assert got[1] == (h("intro words " + boiler), 0, 10)
    # doc 2's copy is cut; its own tokens survive
    assert got[2] == (h("different tail"), 8, 2)
    # doc 3: first copy IS the (3, 1) occurrence — later than doc 1's
    # and doc 2's copies? No: ordering is global (doc_id, pos), so
    # doc 1 at pos 3 wins; BOTH of doc 3's copies are cut.
    assert got[3] == (h(""), 16, 0)
    # doc 4: below the window length — no windows, fully kept
    assert got[4] == (h("short doc"), 0, 2)
    # doc 5: empty text tokenizes to [''] — one (empty) token kept;
    # doc 6: NULL text -> NULL toks (size -1) — the sequence(1, n)
    # guard must not raise and must yield an empty reassembly
    assert got[5] == (h(""), 0, 1)
    assert got[6][1:] == (0, 0) or got[6][2] == 0


def test_substring_cut_conservation_and_idempotence(spark):
    """At SF_ORACLE: cut + kept == total tokens per doc, every doc
    appears exactly once, and docs with zero cuts hash to the join
    of their own tokens (reassembly identity)."""
    import hashlib

    from pyspark.sql import functions as F

    from twitter_etl_spark.cleaning import tokens
    from twitter_etl_spark.queries.dedup import q_dedup_substring_cut
    from twitter_etl_spark.tables import table

    out = q_dedup_substring_cut(spark, SF_ORACLE)
    d = table(spark, SF_ORACLE, "documents").select(
        "doc_id", F.concat_ws(" ", tokens()).alias("joined")
    )
    j = out.join(d, "doc_id")
    rows = j.collect()
    assert len(rows) == d.count()
    for r in rows:
        total = r.cut_tokens + r.kept_tokens
        assert total == len(r.joined.split(" ")) if r.joined else total >= 0
        if r.cut_tokens == 0:
            assert r.text_cut_md5 == hashlib.md5(
                r.joined.encode()
            ).hexdigest()
