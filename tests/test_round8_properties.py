"""Property tests for the round-8 operators (SURVEY.md §5.2 model):

- the strict funnel agrees with a sequential pure-Python
  greedy-earliest matcher on Hypothesis-generated event logs
  (including ties, missing steps, and out-of-order arrivals);
- shingle containment agrees with brute-force Python set math on
  random token documents (values AND the ≥0.5 report cut).
"""

from __future__ import annotations

import pytest

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st


def _round_half_up(x, n):
    """Spark F.round / DuckDB round semantics: HALF_UP (ties away from
    zero). Python's builtin round() is half-to-even, which diverges on
    exactly-representable midpoints (e.g. -97.65625 at 4 decimals,
    reachable because the histogram bucket width is dyadic)."""
    import decimal

    q = decimal.Decimal(1).scaleb(-n)
    return float(
        decimal.Decimal(repr(float(x))).quantize(
            q, rounding=decimal.ROUND_HALF_UP
        )
    )


_SETTINGS = dict(
    max_examples=10,
    deadline=None,  # Spark job latency is not a property failure
    suppress_health_check=[HealthCheck.too_slow],
)

_TYPES = ["view", "click", "purchase", "other"]

# (user, event_type, minute) logs: few users, colliding timestamps
# on purpose (minute range 0-5 forces ties), every step optional
_LOG = st.lists(
    st.tuples(
        st.integers(1, 4),
        st.sampled_from(_TYPES),
        st.integers(0, 5),
    ),
    min_size=1,
    max_size=25,
)


def _funnel_reference(rows):
    """Sequential greedy-earliest matcher: first view; first click
    at-or-after it; first purchase at-or-after that click."""
    by_user: dict = {}
    for u, t, m in rows:
        by_user.setdefault(u, []).append((m, t))
    n_users = len(by_user)
    n_view = n_click = n_purchase = 0
    for evs in by_user.values():
        views = sorted(m for m, t in evs if t == "view")
        if not views:
            continue
        n_view += 1
        t_view = views[0]
        clicks = sorted(m for m, t in evs if t == "click" and m >= t_view)
        if not clicks:
            continue
        n_click += 1
        t_click = clicks[0]
        purch = sorted(m for m, t in evs if t == "purchase" and m >= t_click)
        if purch:
            n_purchase += 1
    return n_users, n_view, n_click, n_purchase


@given(_LOG)
@settings(**_SETTINGS)
def test_funnel_strict_matches_sequential_reference(spark, rows):
    from twitter_etl_spark.queries.behavior import funnel_strict_counts

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (i, base + dt.timedelta(minutes=m), u, t, 1.0)
            for i, (u, t, m) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    got = funnel_strict_counts(df).first()
    assert (
        got.n_users,
        got.n_view,
        got.n_click_strict,
        got.n_purchase_strict,
    ) == _funnel_reference(rows)


# token documents over a tiny alphabet so shingle overlap is common;
# include docs shorter than the 3-gram window (empty shingle sets)
_DOCS = st.lists(
    st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=12),
    min_size=2,
    max_size=8,
)


def _containment_reference(docs):
    """Brute-force distinct-3-gram-shingle containment over all doc
    pairs sharing at least one shingle (df cap unreachable at this
    corpus size)."""
    sets = {
        i: {
            " ".join(toks[k : k + 3])
            for k in range(max(len(toks) - 2, 0))
        }
        for i, toks in enumerate(docs)
    }
    out = {}
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            c_ab = _round_half_up(inter / len(sets[a]), 6)
            c_ba = _round_half_up(inter / len(sets[b]), 6)
            if max(c_ab, c_ba) >= 0.5:
                out[(a, b)] = (c_ab, c_ba)
    return out


@given(_DOCS)
@settings(**_SETTINGS)
def test_containment_matches_bruteforce_reference(spark, docs):
    from pyspark.sql import functions as F

    from twitter_etl_spark.cleaning import tokens
    from twitter_etl_spark.queries.dedup import (
        CONTAIN_MIN,
        shingle_intersections_frame,
    )

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    ).select("doc_id", tokens().alias("toks"))
    inter = shingle_intersections_frame(df)
    c_ab = F.round(F.col("n_inter") / F.col("n_a"), 6)
    c_ba = F.round(F.col("n_inter") / F.col("n_b"), 6)
    got = {
        (r.doc_a, r.doc_b): (r.c_ab, r.c_ba)
        for r in inter.select(
            "doc_a", "doc_b", c_ab.alias("c_ab"), c_ba.alias("c_ba")
        )
        .filter(F.greatest("c_ab", "c_ba") >= CONTAIN_MIN)
        .collect()
    }
    assert got == _containment_reference(docs)


def _dau_reference(rows):
    """Python DAU/WAU/MAU: per observed day, distinct users active in
    the trailing 1/7/28 days."""
    udays = {(u, d) for u, d in rows}
    days = sorted({d for _, d in udays})
    out = {}
    for anchor in days:
        dau = {u for u, d in udays if d == anchor}
        wau = {u for u, d in udays if 0 <= anchor - d <= 6}
        mau = {u for u, d in udays if 0 <= anchor - d <= 27}
        out[anchor] = (len(dau), len(wau), len(mau))
    return out


_ACTIVITY = st.lists(
    st.tuples(st.integers(1, 5), st.integers(0, 40)),  # (user, day-offset)
    min_size=1,
    max_size=40,
)


@given(_ACTIVITY)
@settings(**_SETTINGS)
def test_dau_wau_mau_matches_reference(spark, rows):
    from twitter_etl_spark.queries.behavior import q_behavior_dau_wau_mau

    base = dt.date(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (
                i,
                dt.datetime(2024, 1, 1, 12)
                + dt.timedelta(days=d, minutes=i),
                u,
                "click",
                1.0,
            )
            for i, (u, d) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    import os
    import tempfile

    sf = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    got = {
        (dt.date.fromisoformat(r.day) - base).days: (r.dau, r.wau, r.mau)
        for r in q_behavior_dau_wau_mau(spark, sf).collect()
    }
    assert got == _dau_reference(rows)


_TOKDOCS = st.lists(
    st.lists(st.sampled_from(list("xyz")), min_size=0, max_size=20),
    min_size=1,
    max_size=6,
)


def _substring_reference(docs, w=8):
    """Brute-force sliding w-token window counts, cross-doc only."""
    from collections import defaultdict

    occ = defaultdict(int)
    holders = defaultdict(set)
    for i, toks in enumerate(docs):
        for k in range(len(toks) - w + 1):
            g = " ".join(toks[k : k + w])
            occ[g] += 1
            holders[g].add(i)
    return {
        g: (len(holders[g]), occ[g]) for g in occ if len(holders[g]) >= 2
    }


@given(_TOKDOCS)
@settings(**_SETTINGS)
def test_exact_substring_matches_reference(spark, docs):
    import hashlib
    import os
    import tempfile

    from twitter_etl_spark.queries.dedup import (
        _SUBSTR_TOKENS,
        q_dedup_exact_substring,
    )

    sf = tempfile.mkdtemp()
    spark.createDataFrame(
        [
            (i, " ".join(toks), "en", "s", len(toks))
            for i, toks in enumerate(docs)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    got = {
        r.gram_hash: (r.n_docs, r.n_occ)
        for r in q_dedup_exact_substring(spark, sf).collect()
    }
    want = {
        hashlib.md5(g.encode()).hexdigest(): v
        for g, v in _substring_reference(docs, _SUBSTR_TOKENS).items()
    }
    assert got == want


def _countmin_reference(docs):
    """Pure-Python count-min replay: same md5 row hashes, same
    width/depth/top-k constants as q_agg_countmin."""
    import hashlib
    from collections import Counter

    from twitter_etl_spark.queries.sketches import (
        _CM_DEPTH,
        _CM_TOPK,
        _CM_WIDTH,
    )

    def bucket(i, token):
        h = hashlib.md5(f"{i}:{token}".encode()).hexdigest()[:15]
        return int(h, 16) % _CM_WIDTH

    counts = Counter()
    cells = Counter()
    for toks in docs:
        # replicate Spark split(trim(text), \s+): an empty document
        # yields ONE empty-string token, not zero tokens
        import re

        for t in re.split(r"\s+", " ".join(toks).strip()):
            counts[t] += 1
            for i in range(_CM_DEPTH):
                cells[(i, bucket(i, t))] += 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_CM_TOPK]
    return {
        t: (n, min(cells[(i, bucket(i, t))] for i in range(_CM_DEPTH)))
        for t, n in top
    }


@given(_DOCS)
@settings(**_SETTINGS)
def test_countmin_matches_python_reference(spark, docs):
    import os
    import tempfile

    from twitter_etl_spark.queries.sketches import q_agg_countmin

    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {
        r["token"]: (r["n_true"], r["cm_est"])
        for r in q_agg_countmin(spark, d).collect()
    }
    assert got == _countmin_reference(docs)


def _bloom_reference(docs):
    """Pure-Python bloom replay of q_dedup_bloom: same split, same
    k positions, same m."""
    import hashlib

    from twitter_etl_spark.queries.dedup import (
        _BLOOM_K,
        _BLOOM_M,
        _INCR_RECRAWL_SHIFT,
    )

    def bk(text):
        return int(hashlib.md5(text.encode()).hexdigest()[:8], 16) % 100

    def digest(text):
        return hashlib.md5(text.encode()).hexdigest()

    def positions(dg):
        return {
            int(hashlib.md5(f"{j}:{dg}".encode()).hexdigest()[:15], 16)
            % _BLOOM_M
            for j in range(_BLOOM_K)
        }

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    base_digests = {digest(t) for _, t in rows if bk(t) < 80}
    bits = set()
    for dg in base_digests:
        bits |= positions(dg)
    batch = [(i, digest(t)) for i, t in rows if bk(t) >= 80] + [
        (i + _INCR_RECRAWL_SHIFT, digest(t)) for i, t in rows if bk(t) < 20
    ]
    return {
        doc_id: (
            int(positions(dg) <= bits),
            int(dg in base_digests),
        )
        for doc_id, dg in batch
    }


@given(_DOCS)
@settings(**_SETTINGS)
def test_bloom_matches_python_reference(spark, docs):
    import os
    import tempfile

    from twitter_etl_spark.queries.dedup import q_dedup_bloom

    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {
        r["doc_id"]: (r["bloom_hit"], r["exact_dup"])
        for r in q_dedup_bloom(spark, d).collect()
    }
    assert got == _bloom_reference(docs)


def _cusum_reference(rows, target, scale=10**4):
    """Pure-Python Page recursion S_t = max(0, S_{t-1} + (x - target))
    in the same fixed-point arithmetic as q_ts_cusum."""
    import math

    out = []
    s = 0
    for x in rows:
        inc = math.floor(_round_half_up(x - target, 4) * scale + 0.5)
        s = max(0, s + inc)
        out.append(_round_half_up(s / scale, 4))
    return out


@given(
    st.lists(
        st.floats(0, 500, allow_nan=False, width=32), min_size=1, max_size=60
    )
)
@settings(**_SETTINGS)
def test_cusum_closed_form_equals_page_recursion(spark, values):
    """The window closed form (cumsum − min(0, running-min cumsum))
    must reproduce the sequential max-reset recursion exactly — the
    identity that lets two stock window frames replace a
    row-by-row loop."""
    import datetime as dt
    import os
    import tempfile

    from twitter_etl_spark.queries.timeseries import (
        _CUSUM_TARGET,
        q_ts_cusum,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 1, "purchase", float(v), "{}")
        for i, v in enumerate(values)
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = [
        r["cusum"]
        for r in q_ts_cusum(spark, d).orderBy("event_id").collect()
    ]
    assert got == _cusum_reference([float(v) for v in values], _CUSUM_TARGET)


def _hll_reference(values):
    """Pure-Python replay of q_agg_hll_md5's estimator (p=8, 60-bit
    md5 prefix, integer register sum, small-range LC branch)."""
    import hashlib
    import math

    m = 256
    alpha = 0.7213 / (1.0 + 1.079 / m)
    regs = [0] * m
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        j = h >> 52
        w = h & ((1 << 52) - 1)
        rho = 53 if w == 0 else 53 - w.bit_length()
        regs[j] = max(regs[j], rho)
    s = sum(1 << (53 - r) for r in regs)
    e_raw = alpha * m * m * float(1 << 53) / s
    v0 = regs.count(0)
    if e_raw <= 2.5 * m and v0 > 0:
        return _round_half_up(m * math.log(m / v0), 4)
    return _round_half_up(e_raw, 4)


@given(
    st.lists(st.integers(0, 10_000), min_size=1, max_size=300),
    st.sampled_from(["click", "view"]),
)
@settings(**_SETTINGS)
def test_hll_md5_matches_python_reference(spark, user_ids, etype):
    """The certified HyperLogLog must reproduce a from-scratch
    Python implementation register for register — index split, rho
    rank, integer register sum, branch decision, rounding."""
    import datetime as dt
    import os
    import tempfile

    from twitter_etl_spark.queries.sketches import q_agg_hll_md5

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base, int(u), etype, 1.0, "{}")
        for i, u in enumerate(user_ids)
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = q_agg_hll_md5(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_exact"] == len(set(user_ids))
    assert r["hll_est"] == _hll_reference(set(user_ids))


def test_hll_registers_merge_like_rollup_state(spark):
    """The mergeability claim, proven on the real fixture: building
    registers from two disjoint halves of the events table and
    max-merging them must give EXACTLY the registers of the whole —
    the property that lets an incremental rollup absorb a new
    partition by register-max instead of a re-scan."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from twitter_etl_spark.tables import table

    e = table(spark, SF_SMOKE, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    rows = e.select(
        "event_type",
        (F.col("event_id") % 2).alias("half"),
        F.shiftright(h, 52).alias("j"),
        (h.bitwiseAND(F.lit((1 << 52) - 1))).alias("w"),
    ).withColumn(
        "rho",
        F.when(F.col("w") == 0, F.lit(53)).otherwise(
            F.lit(53) - F.length(F.conv(F.col("w"), 10, 2))
        ),
    )
    whole = {
        (r["event_type"], r["j"]): r["m"]
        for r in rows.groupBy("event_type", "j")
        .agg(F.max("rho").alias("m"))
        .collect()
    }
    halves = (
        rows.groupBy("event_type", "half", "j")
        .agg(F.max("rho").alias("m"))
        .groupBy("event_type", "j")
        .agg(F.max("m").alias("m"))
    )
    merged = {
        (r["event_type"], r["j"]): r["m"] for r in halves.collect()
    }
    assert merged == whole


def _lsh_rhp_reference(vecs):
    """Pure-Python replay of q_sim_lsh_rhp: quantize, sign bits
    against the fixed integer hyperplanes, 8x4 banding, in-bucket
    pairs, sequential-fold cosine refine."""
    import math

    from twitter_etl_spark.queries.similarity import (
        RHP_PLANES,
        _RHP_BANDS,
        _RHP_BITS,
        _RHP_THRESHOLD,
    )

    def quant(v):
        return [math.floor(float(x) * 1000 + 0.5) for x in v]

    def bands(v):
        eq = quant(v)
        out = []
        for b in range(_RHP_BANDS):
            val = 0
            for i in range(_RHP_BITS):
                plane = RHP_PLANES[b * _RHP_BITS + i]
                dot = 0.0
                for x, w in zip(eq, plane):
                    dot += x * w
                if dot > 0:
                    val += 1 << (_RHP_BITS - 1 - i)
            out.append((b, val))
        return out

    sigs = {vid: bands(v) for vid, v in vecs.items()}
    cand = set()
    ids = sorted(vecs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if set(sigs[a]) & set(sigs[b]):
                cand.add((a, b))

    def cos(a, b):
        va = [float(x) for x in vecs[a]]
        vb = [float(x) for x in vecs[b]]
        dot = na = nb = 0.0
        for x, y in zip(va, vb):
            dot += x * y
        for x in va:
            na += x * x
        for y in vb:
            nb += y * y
        return _round_half_up(dot / (math.sqrt(na) * math.sqrt(nb)), 6)

    return {
        (a, b): cos(a, b)
        for a, b in cand
        if cos(a, b) >= _RHP_THRESHOLD
    }


@given(
    st.lists(
        st.lists(
            st.floats(-0.5, 0.5, allow_nan=False, width=32),
            min_size=64,
            max_size=64,
        ).filter(lambda v: any(abs(x) > 1e-3 for x in v)),
        min_size=2,
        max_size=10,
    )
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_lsh_rhp_matches_python_reference(spark, vecs):
    """The certified RHP-LSH must reproduce a from-scratch Python
    replay pair for pair and cosine for cosine — quantization,
    hyperplane signs, band values, bucket joins, refine order."""
    import os
    import tempfile

    from twitter_etl_spark.queries.similarity import q_sim_lsh_rhp

    vmap = {i: v for i, v in enumerate(vecs)}
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, v, 0) for i, v in vmap.items()],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in q_sim_lsh_rhp(spark, d).collect()
    }
    assert got == _lsh_rhp_reference(vmap)


def _linear_count_reference(user_ids):
    """Pure-Python replay of q_agg_linear_count's estimator."""
    import hashlib
    import math

    from twitter_etl_spark.queries.sketches import _LC_M

    pos = {
        int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) % _LC_M
        for u in set(user_ids)
    }
    filled = len(pos)
    return (
        len(set(user_ids)),
        filled,
        _round_half_up(-float(_LC_M) * math.log((_LC_M - filled) / float(_LC_M)), 4),
    )


@given(st.lists(st.integers(0, 5_000), min_size=1, max_size=200))
@settings(**_SETTINGS)
def test_linear_count_matches_python_reference(spark, user_ids):
    import datetime as dt
    import os
    import tempfile

    from twitter_etl_spark.queries.sketches import q_agg_linear_count

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base, int(u), "view", 1.0, "{}") for i, u in enumerate(user_ids)
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = q_agg_linear_count(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_exact"], r["filled"], r["lc_est"]) == _linear_count_reference(
        user_ids
    )


def _ams_reference(docs):
    """Pure-Python replay of q_agg_ams_f2 (single-md5 bit-slice
    signs, 6x8 median-of-means, closed-form even median)."""
    import hashlib
    import re

    from twitter_etl_spark.queries.sketches import _AMS_D, _AMS_GROUP

    toks = []
    for ts in docs:
        toks.extend(re.split(r"\s+", " ".join(ts).strip()))
    sums = [0] * _AMS_D
    f2 = {}
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        f2[t] = f2.get(t, 0) + 1
        for i in range(_AMS_D):
            sums[i] += ((h >> i) & 1) * 2 - 1
    gms = sorted(
        sum(sums[b * _AMS_GROUP + k] ** 2 for k in range(_AMS_GROUP))
        / float(_AMS_GROUP)
        for b in range(_AMS_D // _AMS_GROUP)
    )
    # Spark/DuckDB round() is half-UP; Python's is banker's — and
    # the group means are exact eighths, so x.25 boundaries are HIT
    import math as _math

    est = _math.floor(((gms[2] + gms[3]) / 2) * 10 + 0.5) / 10
    exact = sum(n * n for n in f2.values())
    return exact, est


@given(_DOCS)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_ams_f2_matches_python_reference(spark, docs):
    import os
    import tempfile

    from twitter_etl_spark.queries.sketches import q_agg_ams_f2

    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, " ".join(toks), "xx") for i, toks in enumerate(docs)],
        "doc_id long, text string, lang string",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = q_agg_ams_f2(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    exact, est = _ams_reference(docs)
    assert (r["f2_exact"], r["f2_est"]) == (exact, est)


def _histo_percentile_reference(vals):
    """Pure-Python replay of q_agg_histo_percentile for one segment
    (integer-valued balances keep interpolated exacts off rounding
    boundaries)."""
    import math

    from twitter_etl_spark.queries.sketches import _HP_B, _HP_LO, _HP_W

    n = len(vals)
    hist = {}
    for x in vals:
        b = min(int(math.floor((x - _HP_LO) / _HP_W)), _HP_B - 1)
        hist[b] = hist.get(b, 0) + 1
    out = {}
    sv = sorted(vals)
    for p in (0.5, 0.9):
        # exact: Spark percentile / DuckDB quantile_cont, (n-1)p rank
        rank = p * (n - 1)
        lo = int(math.floor(rank))
        frac = rank - lo
        exact = sv[lo] + frac * (sv[min(lo + 1, n - 1)] - sv[lo])
        t = p * n
        cum = 0
        for b in sorted(hist):
            prev = cum
            cum += hist[b]
            if cum >= t:
                est = _HP_LO + _HP_W * (b + (t - prev) / hist[b])
                break
        out[p] = (_round_half_up(exact, 4), _round_half_up(est, 4))
    return out


@given(st.lists(st.integers(-999, 9999), min_size=1, max_size=120))
@settings(**_SETTINGS)
def test_histo_percentile_matches_python_reference(spark, balances):
    import os
    import tempfile

    from twitter_etl_spark.queries.sketches import q_agg_histo_percentile

    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, "SEG", float(v)) for i, v in enumerate(balances)],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    ).write.mode("overwrite").parquet(os.path.join(d, "customer.parquet"))
    got = {
        r["p"]: (r["exact"], r["hist_est"])
        for r in q_agg_histo_percentile(spark, d).collect()
    }
    assert got == _histo_percentile_reference([float(v) for v in balances])


def _ks_reference(vals_a, vals_b):
    """Pure-Python replay of q_stat_ks_binned (integer ECDF cross
    products, min-bucket tie-break)."""
    import math

    from twitter_etl_spark.queries.sketches import _HP_B, _HP_LO, _HP_W

    def binned(vals):
        h = [0] * _HP_B
        for x in vals:
            h[min(int(math.floor((x - _HP_LO) / _HP_W)), _HP_B - 1)] += 1
        out = []
        c = 0
        for n in h:
            c += n
            out.append(c)
        return out

    ca, cb = binned(vals_a), binned(vals_b)
    n_a, n_b = ca[-1], cb[-1]
    best = max(
        range(_HP_B),
        key=lambda i: (abs(ca[i] * n_b - cb[i] * n_a), -i),
    )
    d = abs(ca[best] * n_b - cb[best] * n_a)
    return (n_a, n_b, best, _round_half_up(d / (n_a * n_b), 6))


@given(
    st.lists(st.integers(-999, 9999), min_size=1, max_size=80),
    st.lists(st.integers(-999, 9999), min_size=1, max_size=80),
)
@settings(**_SETTINGS)
def test_ks_binned_matches_python_reference(spark, a_vals, b_vals):
    import os
    import tempfile

    from twitter_etl_spark.queries.sketches import q_stat_ks_binned

    rows = [(i, "AUTOMOBILE", float(v)) for i, v in enumerate(a_vals)] + [
        (10_000 + i, "MACHINERY", float(v)) for i, v in enumerate(b_vals)
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "c_custkey long, c_mktsegment string, c_acctbal double"
    ).write.mode("overwrite").parquet(os.path.join(d, "customer.parquet"))
    out = q_stat_ks_binned(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (
        r["n_a"],
        r["n_b"],
        r["argmax_bucket"],
        r["ks_stat"],
    ) == _ks_reference(
        [float(v) for v in a_vals], [float(v) for v in b_vals]
    )
