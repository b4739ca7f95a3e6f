"""Mergeable-aggregation algebra and bounded-memory sketches
([EXT], SURVEY.md §2.4/§2.6).

- **Partial-agg merge** (``q_agg_mergeable``): the algebra that makes
  incremental rollup maintenance work — count/sum/min/max merge by
  (sum, sum, min, max) and avg re-derives as sum/count. The query
  splits the corpus into two deterministic halves, aggregates each
  independently (two "micro-batches"), merges the partials, and the
  oracle is the DIRECT aggregation of the whole — proving
  merge(agg(A), agg(B)) == agg(A ∪ B) cross-engine. At 100 TB this
  is how a materialized rollup absorbs a new partition without
  re-reading history: the merge touches only partial-state rows.
- **Heavy hitters** (``q_text_heavyhitters``): exact tokens with
  count > N/k in bounded memory, two passes. Pass 1: per-partition
  Misra-Gries with k counters (Arrow-batched ``mapInPandas``,
  O(k) memory per task regardless of partition bytes) emits a
  candidate superset — by pigeonhole, any token with global count >
  N/k exceeds N_p/k in at least one partition, and Misra-Gries
  never evicts such a token to zero. Pass 2: broadcast the (≤ k ×
  partitions) candidates, exact-count only them, keep count > N/k.
  Output is EXACT (the sketch only bounds candidate-generation
  memory), so the DuckDB oracle is a plain GROUP BY ... HAVING.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cleaning import tokens
from ..tables import table
from .dedup import _spread

# Misra-Gries counter budget per task, and the heavy-hitter
# threshold denominator: we return tokens with count > N / _HH_K.
_HH_K = 100


def _agg_half(d: DataFrame, which: int) -> DataFrame:
    """Aggregate one deterministic half of documents (md5 text-hash
    parity) — stands in for one micro-batch / one new partition."""
    from .sampling import hash_bucket

    half = d.filter(hash_bucket(F.col("text"), 2) == which)
    return half.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("s"),
        F.min("n_chars").alias("mn"),
        F.max("n_chars").alias("mx"),
    )


def q_agg_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge two independently-computed partial aggregates into the
    final per-lang stats (count/sum/min/max/avg). The oracle
    aggregates the whole table directly — the results must be
    identical, which is exactly the property incremental rollup
    maintenance relies on."""
    d = table(spark, sf_dir, "documents")
    partials = _agg_half(d, 0).unionByName(_agg_half(d, 1))
    return partials.groupBy("lang").agg(
        F.sum("n").alias("n_docs"),
        F.sum("s").alias("sum_chars"),
        F.min("mn").alias("min_chars"),
        F.max("mx").alias("max_chars"),
        F.round(F.sum("s") / F.sum("n"), 4).alias("avg_chars"),
    )


def _misra_gries_partition(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Per-partition batched Misra-Gries over the token stream:
    maintain at most _HH_K counters; when the table overflows,
    subtract the minimum counter from all and drop zeros (the
    batched form of decrement-all — same undercount bound N_p/k).
    Emits surviving candidate tokens."""
    counters: dict[str, int] = {}
    for pdf in batches:
        for tok, cnt in pdf["token"].value_counts().items():
            counters[tok] = counters.get(tok, 0) + int(cnt)
        while len(counters) > _HH_K:
            m = min(counters.values())
            counters = {t: c - m for t, c in counters.items() if c > m}
    yield pd.DataFrame({"token": list(counters.keys())})


def q_text_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (count > N/_HH_K) in bounded memory:
    Misra-Gries candidates per partition, then one exact counting
    pass restricted to the broadcast candidate set."""
    from ..session import ship_package_to_executors

    ship_package_to_executors(spark)
    d = _spread(table(spark, sf_dir, "documents").select(tokens().alias("toks")))
    toks = d.select(F.explode("toks").alias("token"))
    candidates = (
        toks.mapInPandas(_misra_gries_partition, schema="token string")
        .distinct()
    )
    totals = toks.agg(F.count(F.lit(1)).alias("n_total"))
    counted = (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counted.crossJoin(F.broadcast(totals))
        .filter(F.col("n") * _HH_K > F.col("n_total"))
        .select("token", "n")
    )


def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counts via mergeable bitmaps: per (group,
    bucket) a ``bitmap_construct_agg`` of bit positions, then
    ``bitmap_count`` summed per group. Same answer as
    ``count(DISTINCT ...)`` — the oracle IS count(distinct) — but
    the partial state is a 4 KB bitmap that merges with OR, so at
    100 TB the distinct count is: (a) pre-aggregatable map-side,
    (b) incrementally maintainable (store per-bucket bitmaps in the
    summary table, OR in each new batch — the `q_merge_upsert`
    pattern carries distinct counts without re-scanning history),
    unlike the non-mergeable two-shuffle expand of count(distinct).
    Spark ≥ 3.5 built-ins; bucket = key div 32768."""
    li = table(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag",
        F.expr("bitmap_bucket_number(l_suppkey)").alias("bucket"),
    ).agg(
        F.expr(
            "bitmap_construct_agg(bitmap_bit_position(l_suppkey))"
        ).alias("bm")
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.expr("sum(bitmap_count(bm))").alias("n_distinct_supp")
    )


QUERIES = {
    "q_agg_mergeable": q_agg_mergeable,
    "q_text_heavyhitters": q_text_heavyhitters,
    "q_agg_bitmap_distinct": q_agg_bitmap_distinct,
}

ORACLE = {
    # direct whole-table aggregation: must equal the merged partials
    "q_agg_mergeable": (
        "SELECT lang, count(*)::BIGINT AS n_docs, "
        "sum(n_chars)::BIGINT AS sum_chars, "
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars, "
        "round(sum(n_chars) * 1.0 / count(*), 4) AS avg_chars "
        "FROM documents GROUP BY lang"
    ),
    # the sketch bounds memory, not the answer: plain GROUP BY oracle
    "q_text_heavyhitters": (
        "WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) "
        "  AS token FROM documents), "
        "n AS (SELECT count(*) AS n_total FROM toks) "
        "SELECT token, count(*)::BIGINT AS n FROM toks, n "
        "GROUP BY token, n_total HAVING count(*) * 100 > n_total"
    ),
    # the bitmap algebra is exact: plain count(distinct) oracle
    "q_agg_bitmap_distinct": (
        "SELECT l_returnflag, count(DISTINCT l_suppkey)::BIGINT "
        "AS n_distinct_supp FROM lineitem GROUP BY l_returnflag"
    ),
}


def q_agg_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` (DataSketches frequent-items, Spark 4):
    top-3 order priorities with counts from ONE sketch pass.
    Rows-only (tie-breaking inside the sketch is engine-internal),
    but in-regime the sketch is EXACT — distinct values (5) sit far
    under maxItemsTracked (10k) — and pytest pins the output equal
    to the exact GROUP BY counts at both fixture scales. The
    mergeable accumulate/combine/estimate triple is the streaming/
    partitioned form (same family as the Misra-Gries two-pass
    `q_text_heavyhitters`, which keeps the exact-answer contract)."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT t.item, t.count FROM (SELECT "
        "explode(approx_top_k(o_orderpriority, 3)) AS t FROM orders)"
    )


QUERIES["q_agg_topk_sketch"] = q_agg_topk_sketch  # rows-only


# Count-min geometry (Cormode & Muthukrishnan 2005, J.Algorithms —
# public): depth rows x width buckets. Error bound: each estimate
# overcounts by at most 2N/width with probability 1 - 2^-depth.
# The fixture vocabulary is 31 tokens, so width is set BELOW vocab
# (16) to force real bucket collisions — the point of the exercise
# is visible, audited collision overcounts, not a vanishing error;
# production sizes width to N*eps. Hash family: per-depth md5
# prefixes — the same engine-independent integer idiom as
# q_dedup_simhash_md5, so the oracle replays the EXACT sketch, not
# an approximation of it.
_CM_DEPTH = 3
_CM_WIDTH = 16
_CM_TOPK = 20


def _cm_bucket(depth_col, token_col):
    """Row-i bucket for a token: 60-bit md5 prefix of "i:token" mod
    width. Engine-independent (md5 + integer mod on both sides)."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", depth_col.cast("string"), token_col)),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_CM_WIDTH),
    )


def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the document token stream, probed for
    the true top-``_CM_TOPK`` tokens: per token, the exact count,
    the sketch estimate (min over depth rows of the hashed cell),
    and the overcount — always >= 0, the sketch's one-sided error,
    auditable row by row ([EXT] §2.4 sketch family; reference scope:
    main.R:97-101 tokenizes but keeps only exact counts).

    Deterministic end to end (md5 bucket hashes, integer sums), so
    the DuckDB oracle rebuilds the identical sketch and the cert is
    a hash match — unlike HLL/topk whose internal tie-breaks force
    rows-only checks.

    Scale: the sketch build never keys a shuffle on the token — each
    token instance emits ``_CM_DEPTH`` (row, bucket) pairs and the
    hash-agg collapses them map-side to at most depth*width partial
    cells PER TASK, so the exchange is bounded by 1024 rows x tasks
    regardless of corpus size (the vocab never materializes; a
    viral token is just a hot cell, already one row per task). The
    probe side joins the 1024-cell sketch broadcast. The exact
    top-k comparison column is fixture-scale validation — at 100 TB
    you would probe with a known query set instead."""
    d = _spread(table(spark, sf_dir, "documents").select(tokens().alias("toks")))
    toks = d.select(F.explode("toks").alias("token"))
    depths = F.explode(
        F.sequence(F.lit(0), F.lit(_CM_DEPTH - 1))
    )
    cells = (
        toks.select("token", depths.alias("i"))
        .select("i", _cm_bucket(F.col("i"), F.col("token")).alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_true"))
        .orderBy(F.col("n_true").desc(), F.col("token"))
        .limit(_CM_TOPK)
    )
    probes = top.select("token", "n_true", depths.alias("i")).withColumn(
        "bucket", _cm_bucket(F.col("i"), F.col("token"))
    )
    return (
        probes.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy("token", "n_true")
        .agg(F.min("cell").alias("cm_est"))
        .select(
            "token",
            "n_true",
            "cm_est",
            (F.col("cm_est") - F.col("n_true")).alias("overcount"),
        )
    )


QUERIES["q_agg_countmin"] = q_agg_countmin

_CM_BUCKET_SQL = (
    "(('0x' || substr(md5(i::VARCHAR || ':' || token), 1, 15))::UBIGINT"
    f" % {_CM_WIDTH})::BIGINT"
)

ORACLE["q_agg_countmin"] = (
    "WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) "
    "  AS token FROM documents), "
    f"ds AS (SELECT unnest(range({_CM_DEPTH})) AS i), "
    f"cells AS (SELECT i, {_CM_BUCKET_SQL} AS bucket, "
    "  count(*)::BIGINT AS cell FROM toks CROSS JOIN ds "
    "  GROUP BY 1, 2), "
    "top AS (SELECT token, count(*)::BIGINT AS n_true FROM toks "
    f"  GROUP BY token ORDER BY n_true DESC, token LIMIT {_CM_TOPK}), "
    f"probes AS (SELECT token, n_true, i, {_CM_BUCKET_SQL} AS bucket "
    "  FROM top CROSS JOIN ds) "
    "SELECT token, n_true, min(cell)::BIGINT AS cm_est, "
    "(min(cell) - n_true)::BIGINT AS overcount "
    "FROM probes JOIN cells USING (i, bucket) GROUP BY token, n_true"
)


# Linear (probabilistic) counting geometry (Whang, Vander-Zanden &
# Taylor 1990, TODS — public): an m-bit presence bitmap per group;
# n̂ = -m·ln(V) where V is the fraction of bits still empty. m is a
# power of two so (m - filled)/m is an exact dyadic rational —
# both engines feed ln() the bit-identical double. At the sf0.1
# group cardinality (1500 distinct users) the fill is ~0.31,
# squarely in linear counting's accurate regime (load < 2).
_LC_M = 1 << 12


def q_agg_linear_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting distinct estimate per event type, next to the
    exact count — the CERTIFIABLE twin of ``q_agg_hll_distinct``
    (DataSketches HLL, engine-internal, rows-only): the bit
    positions are md5-prefix integers, so both engines fill the
    identical bitmap and the estimate hash-certifies; the
    exact-vs-estimate gap is an audited output column.

    Scale: the per-group state is at most m (=4096) distinct
    position rows — bounded regardless of user-id cardinality, the
    same reason ``q_agg_bitmap_distinct`` stores bitmaps; here the
    bitmap is spelled as a relation (distinct positions) so the
    whole query stays certifiable. The distinct-position agg
    collapses map-side to ≤ m rows per task; production would keep
    the m-bit bitmap itself as mergeable rollup state (OR-merge,
    rollup.py pattern) and apply the -m·ln(V) estimator at read
    time. Estimator bias at this fill is < 1% (the output shows
    it); HLL wins only when groups approach or exceed m, where
    linear counting saturates — that crossover is the documented
    swap point."""
    e = table(spark, sf_dir, "events")
    pos = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(_LC_M),
    )
    per_group = (
        e.select("event_type", pos.alias("pos"), "user_id")
        .groupBy("event_type")
        .agg(
            F.countDistinct("pos").alias("filled"),
            F.countDistinct("user_id").alias("n_exact"),
        )
    )
    est = F.round(
        F.lit(-float(_LC_M))
        * F.log((F.lit(_LC_M) - F.col("filled")) / F.lit(float(_LC_M))),
        4,
    )
    return per_group.select(
        "event_type",
        "n_exact",
        "filled",
        est.alias("lc_est"),
    )


QUERIES["q_agg_linear_count"] = q_agg_linear_count

ORACLE["q_agg_linear_count"] = (
    "WITH p AS (SELECT event_type, user_id, "
    "(('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT "
    f" % {_LC_M})::BIGINT AS pos FROM events), "
    "g AS (SELECT event_type, count(DISTINCT pos)::BIGINT AS filled, "
    "count(DISTINCT user_id)::BIGINT AS n_exact FROM p GROUP BY event_type) "
    "SELECT event_type, n_exact, filled, "
    f"round(-{float(_LC_M)!r} * ln(({_LC_M} - filled) / {float(_LC_M)!r}), 4) "
    "AS lc_est FROM g"
)


# Equi-width histogram percentile geometry: 64 buckets over the
# fixed business range [-1000, 10000] of c_acctbal. The width
# 11000/64 = 171.875 is an exact dyadic rational, so bucket
# assignment — floor((x - lo)/w) — computes bit-identically in
# both engines' doubles.
_HP_B = 64
_HP_LO = -1000.0
_HP_W = 171.875


def q_agg_histo_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-interpolated percentile estimates (p50/p90 of
    account balance per market segment) next to the exact
    percentile — the CERTIFIABLE twin of ``q_agg_approx_percentile``
    (t-digest, engine-internal, rows-only): the equi-width histogram
    is deterministic, so both engines build the identical sketch
    and the estimate hash-certifies, with the estimation error an
    audited output column (bounded by one bucket width, 171.875).

    Estimator: first bucket whose cumulative count reaches
    t = p·n, then linear interpolation inside the bucket —
    ``lo + w·(bucket + (t − cum_before)/cnt)``.

    Scale: the histogram is ONE hash agg to ≤ segments × 64 cells
    (map-side partials make the exchange constant-size, the same
    contract as ``q_agg_countmin``); the cumulative window runs
    over ≤ 64 rows per segment, never the data. Exact percentiles
    — which buffer each group in one reducer — are the fixture-
    scale audit column; at 100 TB you ship ONLY the histogram, and
    tighten buckets instead of buffering values. This two-level
    (cheap global sketch + exact audit) is the same posture as
    ``q_dedup_bloom``'s exact_dup column."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    bucket = F.least(
        F.floor((F.col("c_acctbal") - _HP_LO) / _HP_W), F.lit(_HP_B - 1)
    ).cast("int")
    hist = c.groupBy("c_mktsegment", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hc = hist.withColumn("cum", F.sum("cnt").over(w))
    seg = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("e50"),
        F.round(F.percentile("c_acctbal", F.lit(0.9)), 4).alias("e90"),
    )
    ps = seg.select(
        "c_mktsegment",
        "n",
        F.explode(F.array(F.lit(0.5), F.lit(0.9))).alias("p"),
        "e50",
        "e90",
    ).select(
        "c_mktsegment",
        "n",
        "p",
        F.when(F.col("p") == 0.5, F.col("e50")).otherwise(F.col("e90")).alias(
            "exact"
        ),
    )
    sel = (
        ps.join(hc, "c_mktsegment")
        .filter(F.col("cum") >= F.col("p") * F.col("n"))
        .groupBy("c_mktsegment", "p", "n", "exact")
        .agg(F.min("bucket").alias("bucket"))
    )
    est = F.round(
        F.lit(_HP_LO)
        + F.lit(_HP_W)
        * (
            F.col("bucket")
            + (F.col("p") * F.col("n") - (F.col("cum") - F.col("cnt")))
            / F.col("cnt")
        ),
        4,
    )
    return (
        sel.join(hc, ["c_mktsegment", "bucket"])
        .select(
            "c_mktsegment",
            "p",
            "exact",
            est.alias("hist_est"),
            F.round(F.abs(est - F.col("exact")), 4).alias("abs_err"),
        )
    )


QUERIES["q_agg_histo_percentile"] = q_agg_histo_percentile

_HP_EST_SQL = (
    f"round({_HP_LO!r} + {_HP_W!r} * (sel.bucket + "
    "(sel.p * sel.n - (hc.cum - hc.cnt)) * 1.0 / hc.cnt), 4)"
)

ORACLE["q_agg_histo_percentile"] = (
    "WITH h AS (SELECT c_mktsegment, "
    f"least(floor((c_acctbal - ({_HP_LO!r})) / {_HP_W!r}), {_HP_B - 1})::INT "
    "  AS bucket, count(*)::BIGINT AS cnt FROM customer GROUP BY 1, 2), "
    "hc AS (SELECT *, sum(cnt) OVER (PARTITION BY c_mktsegment "
    "  ORDER BY bucket)::BIGINT AS cum FROM h), "
    "seg AS (SELECT c_mktsegment, count(*)::BIGINT AS n, "
    "  round(quantile_cont(c_acctbal, 0.5), 4) AS e50, "
    "  round(quantile_cont(c_acctbal, 0.9), 4) AS e90 "
    "  FROM customer GROUP BY 1), "
    "ps AS (SELECT c_mktsegment, n, p, "
    "  CASE WHEN p = 0.5 THEN e50 ELSE e90 END AS exact "
    "  FROM seg CROSS JOIN (SELECT unnest([0.5, 0.9]) AS p)), "
    "sel AS (SELECT ps.c_mktsegment, ps.p, ps.n, ps.exact, "
    "  min(hc.bucket) AS bucket FROM ps JOIN hc "
    "  ON hc.c_mktsegment = ps.c_mktsegment AND hc.cum >= ps.p * ps.n "
    "  GROUP BY 1, 2, 3, 4) "
    "SELECT sel.c_mktsegment, sel.p, sel.exact, "
    f"{_HP_EST_SQL} AS hist_est, "
    f"round(abs({_HP_EST_SQL} - sel.exact), 4) AS abs_err "
    "FROM sel JOIN hc ON hc.c_mktsegment = sel.c_mktsegment "
    "AND hc.bucket = sel.bucket"
)


# AMS tug-of-war geometry (Alon, Matias & Szegedy 1996, STOC —
# public): 48 ±1 sign hashes (the low 48 bits of one 60-bit md5
# prefix per token) in the paper's median-of-means arrangement — 6 groups of 8; each (Σ f_v·s_i(v))²
# is unbiased for F2 = Σ f_v², the group mean cuts the variance 8×,
# the median over groups tames outlier groups. (A first draft took
# the median over RAW estimators and measured rel_err ~0.45-0.57:
# s_i is ~Normal(0, √F2) here, so s² is ~χ²₁·F2 whose MEDIAN is
# 0.455·F2 — the median-of-raw-squares estimator is biased to less
# than half the true value. The group means are the unbiasing step,
# not an optimization.) |s_i| ≤ stream length, so squares fit
# BIGINT with ~8 decimal orders to spare at sf0.1.
_AMS_D = 48
_AMS_GROUP = 8


def q_agg_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment (F2) sketch of the per-language token
    frequency vector, next to the exact Σf² — F2 is the
    self-join-size / skew statistic a planner wants before choosing
    a join strategy, and the classic streaming lower-bound example.
    Certifiable like its siblings: the sign hashes are md5-prefix
    parity bits, so both engines run the identical tug-of-war and
    the estimate — median over 6 group means, spelled closed-form
    as the average of the middle two sorted means (≡ quantile_cont
    at even n) — hash-certifies; the relative error column audits
    the sketch's variance in the output.

    Scale: the sketch pass never keys a shuffle on the token — ONE
    md5 per instance, 48 sign sums as columns of a single
    lang-keyed hash agg (map-side partials: 48 longs per lang per
    task cross the wire); the exact-F2 audit column is the
    expensive one (vocab-keyed agg) and exists only for
    fixture-scale validation."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    # ONE md5 per token instance; the 48 sign hashes are its low 48
    # bits (a first spelling hashed 48x per instance — 13M md5 calls
    # at sf0.1, 10.0 s wall; this one runs in ~1 s. Same estimator
    # family: md5 bits are pairwise-independent enough for AMS).
    h = F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("long")
    sums = toks.select("lang", h.alias("h")).groupBy("lang").agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"s{i}")
            for i in range(_AMS_D)
        ]
    )
    gms = [
        (
            sum(
                (F.col(f"s{b * _AMS_GROUP + k}")
                 * F.col(f"s{b * _AMS_GROUP + k}")
                 for k in range(_AMS_GROUP)),
                F.lit(0).cast("long"),
            )
            / float(_AMS_GROUP)
        ).alias(f"g{b}")
        for b in range(_AMS_D // _AMS_GROUP)
    ]
    sorted_g = F.array_sort(
        F.array(*[F.col(f"g{b}") for b in range(_AMS_D // _AMS_GROUP)])
    )
    # median of 6 group means, closed-form (avg of the middle two —
    # identical to quantile_cont at even n, no percentile call)
    est = sums.select("lang", *gms).select(
        "lang",
        F.round(
            (sorted_g.getItem(2) + sorted_g.getItem(3)) / 2, 1
        ).alias("f2_est"),
    )
    exact = (
        toks.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("f"))
        .groupBy("lang")
        .agg(F.sum(F.col("f") * F.col("f")).alias("f2_exact"))
    )
    return exact.join(est, "lang").select(
        "lang",
        "f2_exact",
        "f2_est",
        F.round(
            F.abs(F.col("f2_est") - F.col("f2_exact")) / F.col("f2_exact"), 4
        ).alias("rel_err"),
    )


QUERIES["q_agg_ams_f2"] = q_agg_ams_f2

_AMS_SUMS_SQL = ", ".join(
    f"sum(((h >> {i}) & 1) * 2 - 1)::BIGINT AS s{i}" for i in range(_AMS_D)
)
_AMS_GMS_SQL = ", ".join(
    "("
    + " + ".join(
        f"s{b * _AMS_GROUP + k} * s{b * _AMS_GROUP + k}"
        for k in range(_AMS_GROUP)
    )
    + f") / {float(_AMS_GROUP)!r} AS g{b}"
    for b in range(_AMS_D // _AMS_GROUP)
)
_AMS_ARR_SQL = (
    "list_sort([" + ", ".join(f"g{b}" for b in range(_AMS_D // _AMS_GROUP)) + "])"
)

ORACLE["q_agg_ams_f2"] = (
    "WITH toks AS (SELECT lang, "
    "unnest(string_split_regex(trim(text), '\\s+')) AS token "
    "FROM documents), "
    "hs AS (SELECT lang, "
    "(('0x' || substr(md5(token), 1, 15))::UBIGINT)::BIGINT AS h FROM toks), "
    f"sums AS (SELECT lang, {_AMS_SUMS_SQL} FROM hs GROUP BY lang), "
    f"gm AS (SELECT lang, {_AMS_GMS_SQL} FROM sums), "
    f"arr AS (SELECT lang, {_AMS_ARR_SQL} AS a FROM gm), "
    "est AS (SELECT lang, round((a[3] + a[4]) / 2, 1) AS f2_est FROM arr), "
    "ex AS (SELECT lang, sum(f * f)::BIGINT AS f2_exact FROM ("
    "  SELECT lang, token, count(*)::BIGINT AS f FROM toks "
    "  GROUP BY lang, token) GROUP BY lang) "
    "SELECT ex.lang, f2_exact, f2_est, "
    "round(abs(f2_est - f2_exact) / f2_exact, 4) AS rel_err "
    "FROM ex JOIN est ON ex.lang = est.lang"
)


def q_agg_lc_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra ON the linear-counting sketch (one row): distinct
    big-ticket purchasers (value > 80), high-value error users,
    their union and intersection — estimated
    purely from ``q_agg_linear_count``'s m-bit bitmaps — beside the
    exact counts. The union estimate applies the estimator to the
    OR of the two bitmaps (exact sketch algebra: the OR **is** the
    union's bitmap — why LC/HLL state is mergeable rollup state);
    the intersection comes from inclusion-exclusion over three
    estimates, the lossy step whose error the output audits
    (Whang et al. 1990 §4; same certifiable-md5 contract as the
    whole late-r8 sketch family).

    Scale: ONE shuffle keyed on user_id collapses events to a
    per-user flag pair (map-side partial — a user's million events
    collapse before the exchange); the final agg is a 1-row sketch
    merge (bounded state, the q_agg_global class). Production
    stores the two m-bit bitmaps and does the OR at read time —
    this query is that read, spelled as a relation."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
        & (F.col("value") > 80)
    )
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias("in_a"),
            F.max((F.col("event_type") == "error").cast("int")).alias("in_b"),
        )
        .withColumn(
            "pos",
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("long"),
                F.lit(_LC_M),
            ),
        )
    )

    def lc(filled):
        return F.round(
            F.lit(-float(_LC_M))
            * F.log((F.lit(_LC_M) - filled) / F.lit(float(_LC_M))),
            4,
        )

    agg = per_user.agg(
        F.sum("in_a").alias("n_a"),
        F.sum("in_b").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
        F.countDistinct(F.when(F.col("in_a") == 1, F.col("pos"))).alias("fa"),
        F.countDistinct(F.when(F.col("in_b") == 1, F.col("pos"))).alias("fb"),
        F.countDistinct("pos").alias("fu"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_inter",
        lc(F.col("fa")).alias("lc_a"),
        lc(F.col("fb")).alias("lc_b"),
        lc(F.col("fu")).alias("lc_union"),
        F.round(
            lc(F.col("fa")) + lc(F.col("fb")) - lc(F.col("fu")), 4
        ).alias("lc_inter"),
    )


QUERIES["q_agg_lc_setops"] = q_agg_lc_setops

_LC_SQL = (
    f"round(-{float(_LC_M)!r} * ln(({_LC_M} - {{f}}) / {float(_LC_M)!r}), 4)"
)

ORACLE["q_agg_lc_setops"] = (
    "WITH pu AS (SELECT user_id, "
    "max((event_type = 'purchase')::INT) AS in_a, "
    "max((event_type = 'error')::INT) AS in_b, "
    "(('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT "
    f" % {_LC_M})::BIGINT AS pos "
    "FROM events WHERE event_type IN ('purchase', 'error') "
    "AND value > 80 "
    "GROUP BY user_id), "
    "a AS (SELECT sum(in_a)::BIGINT AS n_a, sum(in_b)::BIGINT AS n_b, "
    "sum(in_a * in_b)::BIGINT AS n_inter, "
    "count(DISTINCT CASE WHEN in_a = 1 THEN pos END)::BIGINT AS fa, "
    "count(DISTINCT CASE WHEN in_b = 1 THEN pos END)::BIGINT AS fb, "
    "count(DISTINCT pos)::BIGINT AS fu FROM pu) "
    "SELECT n_a, n_b, n_inter, "
    + _LC_SQL.format(f="fa")
    + " AS lc_a, "
    + _LC_SQL.format(f="fb")
    + " AS lc_b, "
    + _LC_SQL.format(f="fu")
    + " AS lc_union, round("
    + _LC_SQL.format(f="fa")
    + " + "
    + _LC_SQL.format(f="fb")
    + " - "
    + _LC_SQL.format(f="fu")
    + ", 4) AS lc_inter FROM a"
)


# HyperLogLog geometry (Flajolet, Fusy, Gandouet & Meunier 2007,
# AofA — public): p=8 → m=256 registers; the 60-bit md5 value
# splits into 8 index bits (top) + 52 rho bits. The register sum
# Σ 2^(-M_j) is computed as the INTEGER Σ 2^(53-M_j) (≤ 2^61, exact
# BIGINT; the extra bit keeps the rho=53 empty-register branch's
# exponent non-negative) — summing the dyadic doubles directly can
# exceed the 53-bit mantissa (256 terms spanning 2^-53..2^0 need 61
# bits) and would make the total depend on engine sum order. Small-range
# correction: linear counting over the V empty registers when
# E_raw ≤ 2.5m (the paper's threshold); the 60-bit large-range
# correction is unreachable and omitted.
_HLL_P = 8
_HLL_M = 1 << _HLL_P
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)


def hll_register_rows(df: DataFrame, key: str, *groups: str) -> DataFrame:
    """Per-row HLL decomposition of ``key`` under ``groups``:
    (groups..., j, rho) from the 60-bit md5 prefix — the shared
    core of :func:`q_agg_hll_md5` and the certifiable register
    rollup (rollup.py). Max-aggregate rho per (groups, j) to get
    the mergeable register state."""
    h = F.conv(
        F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return df.select(
        *groups,
        F.col(key),
        F.shiftright(h, 52).alias("j"),
        (h.bitwiseAND(F.lit((1 << 52) - 1))).alias("w"),
    ).withColumn(
        "rho",
        F.when(F.col("w") == 0, F.lit(53)).otherwise(
            F.lit(53) - F.length(F.conv(F.col("w"), 10, 2))
        ),
    )


def hll_estimate_registers(
    spark: SparkSession, regs: DataFrame, *groups: str
) -> DataFrame:
    """Flajolet estimator over sparse register rows (groups..., j,
    m_j): densify to all m registers per group (broadcast range
    join), integer register sum, small-range linear-counting
    branch. Returns (groups..., hll_est)."""
    glist = list(groups)
    dense = (
        regs.select(*glist).distinct()
        .crossJoin(
            F.broadcast(
                spark.range(_HLL_M).select(F.col("id").cast("long").alias("j"))
            )
        )
        .join(regs, glist + ["j"], "left")
        .withColumn("m0", F.coalesce("m_j", F.lit(0)))
    )
    agg = dense.groupBy(*glist).agg(
        # 53 - m0 keeps the exponent >= 0 on the rho=53 (w==0) branch:
        # 52 - 53 = -1 silently wraps to 1<<63 in Spark and errors in
        # DuckDB. Max total = m * 2^53 = 2^61, comfortably BIGINT.
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m0)")).alias("s"),
        F.sum((F.col("m0") == 0).cast("long")).alias("v"),
    )
    e_raw = (
        F.lit(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 53)) / F.col("s")
    )
    est = F.when(
        (e_raw <= 2.5 * _HLL_M) & (F.col("v") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("v")),
    ).otherwise(e_raw)
    return agg.select(*glist, F.round(est, 4).alias("hll_est"))


def q_agg_hll_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTUAL HyperLogLog algorithm, hash-certified: distinct
    users per event type from 256 max-rho registers over a fixed
    md5 hash — the engine-independent twin of ``q_agg_hll_distinct``
    (DataSketches, rows-only), closing the last rows-only sketch
    family. Register indices, rho values (leading-zero rank via
    binary-string length — no float log2), the register sum, and
    the small-range branch decision are all integer-exact, so both
    engines compute the identical estimate bit for bit before the
    final round.

    Scale: registers collapse map-side to ≤ m rows per (group,
    task) — the classic O(m)-state mergeable distinct sketch (max
    merges regardless of split); the dense 256-register frame per
    group is built by a broadcast range join. The exact count
    column is the fixture-scale audit, as throughout this family."""
    e = table(spark, sf_dir, "events")
    rows = hll_register_rows(e, "user_id", "event_type")
    regs = rows.groupBy("event_type", "j").agg(F.max("rho").alias("m_j"))
    exact = rows.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    out = hll_estimate_registers(spark, regs, "event_type").join(
        exact, "event_type"
    ).select(
        "event_type",
        "n_exact",
        "hll_est",
    )
    return out.select(
        "event_type",
        "n_exact",
        "hll_est",
        F.round(
            F.abs(F.col("hll_est") - F.col("n_exact")) / F.col("n_exact"), 4
        ).alias("rel_err"),
    )


QUERIES["q_agg_hll_md5"] = q_agg_hll_md5

_HLL_RAW_SQL = f"({_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 53)!r} / s)"

ORACLE["q_agg_hll_md5"] = (
    "WITH h AS (SELECT event_type, user_id, "
    "(('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS hv "
    "FROM events), "
    "r AS (SELECT event_type, user_id, hv >> 52 AS j, "
    f"hv & {(1 << 52) - 1} AS w FROM h), "
    "rr AS (SELECT event_type, user_id, j, "
    "CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho FROM r), "
    "regs AS (SELECT event_type, j, max(rho) AS m_j FROM rr "
    "GROUP BY event_type, j), "
    "ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact "
    "FROM rr GROUP BY event_type), "
    f"js AS (SELECT unnest(range({_HLL_M}))::BIGINT AS j), "
    "dense AS (SELECT ex.event_type, js.j, "
    "coalesce(regs.m_j, 0) AS m0 FROM ex CROSS JOIN js "
    "LEFT JOIN regs ON regs.event_type = ex.event_type AND regs.j = js.j), "
    "a AS (SELECT event_type, "
    "sum(1::BIGINT << (53 - m0))::BIGINT AS s, "
    "sum((m0 = 0)::BIGINT)::BIGINT AS v FROM dense GROUP BY event_type), "
    "est AS (SELECT event_type, round(CASE WHEN "
    f"{_HLL_RAW_SQL} <= {2.5 * _HLL_M!r} AND v > 0 "
    f"THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / v) "
    f"ELSE {_HLL_RAW_SQL} END, 4) AS hll_est FROM a) "
    "SELECT ex.event_type, ex.n_exact, est.hll_est, "
    "round(abs(est.hll_est - ex.n_exact) / ex.n_exact, 4) AS rel_err "
    "FROM ex JOIN est ON ex.event_type = est.event_type"
)


def q_stat_ks_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the
    AUTOMOBILE and MACHINERY balance distributions, computed on the
    64-bucket equi-width grid (the ``q_agg_histo_percentile``
    geometry) — the batch-vs-batch drift detector a training-data
    pipeline runs between crawls (distribution shift gate). Binned
    KS is exact ON THE BINS (it lower-bounds the pointwise KS by at
    most one bin's mass) and is the scale-safe spelling: exact KS
    needs global order statistics of the union — a full sort — while
    this is ONE hash agg to ≤ 2×64 cells plus a 64-row window.

    Integer-exact cross-engine: the ECDF difference is compared as
    ``|cum_a·n_b − cum_b·n_a|`` (BIGINT — no float ECDFs), so the
    argmax bucket and the tie-break are integer decisions; only the
    final normalized statistic divides, once, and rounds at 6.

    Scale: counts collapse map-side; the cumulative window runs
    over the 64-row grid, never the data (single-partition exchange
    allowlisted for exactly that reason)."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY")
    )
    bucket = F.least(
        F.floor((F.col("c_acctbal") - _HP_LO) / _HP_W), F.lit(_HP_B - 1)
    ).cast("int")
    counts = c.groupBy(bucket.alias("bucket")).agg(
        F.sum((F.col("c_mktsegment") == "AUTOMOBILE").cast("long")).alias("ca"),
        F.sum((F.col("c_mktsegment") == "MACHINERY").cast("long")).alias("cb"),
    )
    grid = (
        spark.range(_HP_B)
        .select(F.col("id").cast("int").alias("bucket"))
        .join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "bucket",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = cum.agg(F.max("cum_a").alias("n_a"), F.max("cum_b").alias("n_b"))
    diff = cum.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
        ).alias("d"),
    )
    return (
        diff.orderBy(F.col("d").desc(), F.col("bucket"))
        .limit(1)
        .select(
            "n_a",
            "n_b",
            F.col("bucket").alias("argmax_bucket"),
            F.round(F.col("d") / (F.col("n_a") * F.col("n_b")), 6).alias(
                "ks_stat"
            ),
        )
    )


QUERIES["q_stat_ks_binned"] = q_stat_ks_binned

ORACLE["q_stat_ks_binned"] = (
    "WITH c AS (SELECT c_mktsegment, "
    f"least(floor((c_acctbal - ({_HP_LO!r})) / {_HP_W!r}), {_HP_B - 1})::INT "
    "  AS bucket FROM customer "
    "  WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')), "
    "cnt AS (SELECT bucket, "
    "  sum((c_mktsegment = 'AUTOMOBILE')::INT)::BIGINT AS ca, "
    "  sum((c_mktsegment = 'MACHINERY')::INT)::BIGINT AS cb "
    "  FROM c GROUP BY bucket), "
    f"grid AS (SELECT g.bucket, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb "
    f"  FROM (SELECT unnest(range({_HP_B}))::INT AS bucket) g "
    "  LEFT JOIN cnt ON cnt.bucket = g.bucket), "
    "cum AS (SELECT bucket, "
    "  sum(ca) OVER (ORDER BY bucket)::BIGINT AS cum_a, "
    "  sum(cb) OVER (ORDER BY bucket)::BIGINT AS cum_b FROM grid), "
    "tot AS (SELECT max(cum_a) AS n_a, max(cum_b) AS n_b FROM cum), "
    "d AS (SELECT bucket, n_a, n_b, "
    "  abs(cum_a * n_b - cum_b * n_a)::BIGINT AS d FROM cum CROSS JOIN tot) "
    "SELECT n_a, n_b, bucket AS argmax_bucket, "
    "round(d * 1.0 / (n_a * n_b), 6) AS ks_stat "
    "FROM d ORDER BY d DESC, bucket LIMIT 1"
)


def q_stat_chi2_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-squared homogeneity test between the
    AUTOMOBILE and MACHINERY balance distributions on the same
    64-bucket grid as ``q_stat_ks_binned`` — the drift gate that is
    sensitive where KS is weak (mass moved in the TAILS / many
    small per-bucket shifts; KS sees only the worst single ECDF
    gap). Identity used: for a 2×k table the statistic reduces to
    ``χ² = Σ_k D_k²/t_k / (n_a·n_b)`` with ``D_k = ca_k·n_b −
    cb_k·n_a`` and ``t_k = ca_k + cb_k`` — all-integer numerators,
    so each per-bucket term needs exactly ONE float division.
    Cramér's V (``sqrt(χ²/N)`` for a 2×k table) rides along as the
    scale-free [0,1] effect size.

    Cross-engine exactness: D_k and t_k are BIGINT; each term is
    fixed-pointed to BIGINT at 1e6 (floor(x·1e6 + 0.5) of an IEEE
    double expression both engines evaluate identically) and SUMMED
    AS INTEGERS — no float-accumulation order dependence (the
    q_ts_cusum / q_behavior_rfm idiom). Empty buckets contribute
    nothing, so no dense grid and no window: two hash aggs total.

    Scale: counts collapse map-side to ≤ 2×64 cells; the totals
    row broadcasts back. The data is touched once, unkeyed by
    anything wider than the 64-bucket id — the same bounded-
    exchange contract as the rest of the sketch family.

    Numeric ceiling (the q_ts_seasonal_decompose 2^53 note, chi²
    edition): D_k = ca·n_b − cb·n_a is exact BIGINT only while
    |D_k| < 2^63 (segment sizes ≲ 3e9 rows), and the per-term
    double D_k²/t_k·1e6 stays inside 2^53 exactness only while
    D_k²/t_k ≲ 9e9 — comfortably true at every fixture scale and
    up to ~sf100, but NOT at arbitrary 100 TB segment sizes; past
    that, rescale counts (e.g. drop the 1e6 fixed-point factor or
    pre-divide both margins) before the cast, since out-of-range
    BIGINT casts diverge per engine (Spark wraps/nulls, DuckDB
    errors)."""
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY")
    )
    bucket = F.least(
        F.floor((F.col("c_acctbal") - _HP_LO) / _HP_W), F.lit(_HP_B - 1)
    ).cast("int")
    counts = c.groupBy(bucket.alias("bucket")).agg(
        F.sum((F.col("c_mktsegment") == "AUTOMOBILE").cast("long")).alias("ca"),
        F.sum((F.col("c_mktsegment") == "MACHINERY").cast("long")).alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    d = F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
    t = F.col("ca") + F.col("cb")
    term = F.floor(
        (d * d).cast("double") / t.cast("double") * 1e6 + F.lit(0.5)
    ).cast("long")
    agg = (
        counts.crossJoin(F.broadcast(tot))
        .select("n_a", "n_b", term.alias("ti"))
        .groupBy("n_a", "n_b")
        .agg(F.sum("ti").alias("s"), F.count(F.lit(1)).alias("n_bins"))
    )
    chi2 = F.col("s") / 1e6 / (F.col("n_a") * F.col("n_b"))
    return agg.select(
        "n_a",
        "n_b",
        "n_bins",
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(chi2 / (F.col("n_a") + F.col("n_b"))), 6
        ).alias("cramers_v"),
    )


QUERIES["q_stat_chi2_binned"] = q_stat_chi2_binned

ORACLE["q_stat_chi2_binned"] = (
    "WITH c AS (SELECT c_mktsegment, "
    f"least(floor((c_acctbal - ({_HP_LO!r})) / {_HP_W!r}), {_HP_B - 1})::INT "
    "  AS bucket FROM customer "
    "  WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')), "
    "cnt AS (SELECT bucket, "
    "  sum((c_mktsegment = 'AUTOMOBILE')::INT)::BIGINT AS ca, "
    "  sum((c_mktsegment = 'MACHINERY')::INT)::BIGINT AS cb "
    "  FROM c GROUP BY bucket), "
    "tot AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b FROM cnt), "
    "terms AS (SELECT n_a, n_b, "
    "  floor(((ca * n_b - cb * n_a) * (ca * n_b - cb * n_a))::DOUBLE "
    "        / (ca + cb)::DOUBLE * 1e6 + 0.5)::BIGINT AS ti "
    "  FROM cnt CROSS JOIN tot), "
    "a AS (SELECT n_a, n_b, sum(ti)::BIGINT AS s, count(*)::BIGINT AS n_bins "
    "  FROM terms GROUP BY n_a, n_b) "
    "SELECT n_a, n_b, n_bins, "
    "round(s / 1e6 / (n_a * n_b), 6) AS chi2, "
    "round(sqrt(s / 1e6 / (n_a * n_b) / (n_a + n_b)), 6) AS cramers_v FROM a"
)


# k=64: sf0.001 groups (15 distinct users) certify the exact
# short-circuit branch, sf0.01/sf0.1 (150/1500) certify the
# estimator branch — both branches driver-exercised, the HLL
# small-range-straddle discipline. Estimator sigma ~ n/sqrt(k-2)
# ~ 12.7% — visible honestly in the audited rel_err column.
_KMV_K = 64
_KMV_M = float(1 << 60)  # md5-prefix hash space


def kmv_hash_rows(df: DataFrame, key: str, *groups: str) -> DataFrame:
    """DISTINCT (groups..., h) rows of ``key``'s 60-bit md5 prefix —
    the shared decomposition of :func:`q_agg_kmv_distinct` and the
    mergeable k-min rollup (rollup.py::update_kmv_rollup), mirroring
    :func:`hll_register_rows` for the HLL family."""
    h = F.conv(
        F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return df.select(*groups, h.alias("h")).distinct()


def kmv_estimate(state: DataFrame, *groups: str) -> DataFrame:
    """(groups..., n_state, kmv_est) from distinct-hash rows (a full
    relation OR a k-truncated rollup state — k-min lists merge
    losslessly, so the estimate is identical either way). n_state is
    the exact distinct count ONLY while below k; past k it is
    clamped at the k stored values and the estimator takes over."""
    from pyspark.sql import Window

    glist = list(groups)
    w = Window.partitionBy(*glist).orderBy("h")
    ranked = state.select(*glist, "h", F.row_number().over(w).alias("rn"))
    agg = ranked.filter(F.col("rn") <= _KMV_K).groupBy(*glist).agg(
        F.count(F.lit(1)).alias("n_state"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
    )
    est = F.when(
        F.col("n_state") < _KMV_K, F.col("n_state").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) * (F.lit(_KMV_M) / F.col("hk")))
    return agg.select(
        *glist, "n_state", F.round(est, 4).alias("kmv_est")
    )


def q_agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, hash-certified:
    distinct users per event type estimated from the k-th smallest
    60-bit md5 hash — ``(k-1)·M/h_(k)`` (Bar-Yossef et al. 2002,
    RANDOM; Beyer et al. 2007, SIGMOD — public). Completes the
    distinct-sketch family with the third classical estimator
    geometry: HLL keeps max leading-zero RANKS, linear counting
    keeps a BITMAP, KMV keeps the k smallest VALUES — the one of
    the three whose state also supports set-intersection estimates
    via the k-min union trick. Groups with fewer than k distinct
    hashes short-circuit to the exact count (the standard small-
    range rule). Everything through h_(k) is integer-exact in both
    engines; ONE double division forms the estimate (IEEE-identical
    cross-engine), rel_err is the audited-error column.

    Scale: the exchange carries DISTINCT (group, digest) rows —
    the q_dedup_exact_global 32-byte-digest discipline — then a
    per-group sort ranks them. That spelling is for the oracle's
    benefit; the sketch you would PERSIST at 100 TB is the
    mergeable per-partition k-min list (state = k longs per group,
    merge = k-smallest of the union — same algebra the rollup
    layer pins for HLL registers), which this query's output is
    the read side of. Cite: reference main.R:96-103 dedupes on
    content identity; KMV is that digest idiom lifted to
    cardinality estimation."""
    e = table(spark, sf_dir, "events")
    hd = kmv_hash_rows(e, "user_id", "event_type")
    exact = hd.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    est = kmv_estimate(hd, "event_type")
    return est.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        "kmv_est",
        F.round(
            F.abs(F.col("kmv_est") - F.col("n_exact")) / F.col("n_exact"), 4
        ).alias("rel_err"),
    )


QUERIES["q_agg_kmv_distinct"] = q_agg_kmv_distinct

ORACLE["q_agg_kmv_distinct"] = (
    "WITH hd AS (SELECT DISTINCT event_type, "
    "(('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h "
    "FROM events), "
    "r AS (SELECT event_type, h, "
    "row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM hd), "
    "a AS (SELECT event_type, count(*)::BIGINT AS n_exact, "
    f"max(CASE WHEN rn = {_KMV_K} THEN h END)::BIGINT AS hk "
    "FROM r GROUP BY event_type), "
    "e AS (SELECT event_type, n_exact, "
    f"CASE WHEN n_exact < {_KMV_K} THEN n_exact::DOUBLE "
    f"ELSE {float(_KMV_K - 1)!r} * ({_KMV_M!r} / hk) END AS est FROM a) "
    "SELECT event_type, n_exact, round(est, 4) AS kmv_est, "
    "round(abs(round(est, 4) - n_exact) / n_exact, 4) AS rel_err FROM e"
)


# Theta-sketch set algebra (Dasgupta, Lang, Rhodes & Thaler 2016,
# "Data Sketches: a required toolkit for Big Data Analytics" /
# the public Apache DataSketches theta framework): per-set state =
# the k smallest distinct 60-bit md5 hashes; theta = h_(k) when the
# set has >= k members, else the full hash space M. Set expressions
# evaluate SAMPLE-SIDE: theta' = min over operand thetas, retained
# = the operand k-min lists filtered to h < theta', and any
# union / intersection / difference estimate is |retained'| * M /
# theta'. This is the capability KMV state buys that HLL registers
# and LC bitmaps cannot offer without lossy inclusion-exclusion
# (q_agg_lc_setops audits exactly that loss): INTERSECTION and
# DIFFERENCE come from the same first-class estimator as the union.
_THETA_K = _KMV_K  # same k=64 branch straddle as q_agg_kmv_distinct


def q_agg_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra, hash-certified: distinct big-ticket
    purchasers (A), high-value error users (B), and |A∪B|, |A∩B|,
    |A\\B| estimated purely from the two k-min hash lists — beside
    the exact counts and audited errors. Unlike
    :func:`q_agg_lc_setops` (inclusion-exclusion over three LC
    estimates — the lossy step its output audits), the theta frame
    gives intersection/difference their OWN first-class estimator:
    cut both lists at theta' = min(theta_A, theta_B) and scale the
    retained counts by M/theta'. Everything through the retained
    counts is integer-exact in both engines; ONE double division
    forms the scale factor (IEEE-identical cross-engine).

    Scale: one exchange keyed on user_id collapses events to a
    per-user flag pair (map-side partial); each side's k-min list is
    Spark's own TakeOrderedAndProject — per-partition partial top-k,
    k·P rows to one reducer, the same mergeable k-min algebra
    rollup.py pins for the KMV family (state = k longs per set;
    merge = k smallest of the union). Each k-min side then collapses
    to ONE row holding its <= k-element sorted array, and the whole
    set-expression step is array algebra on a 1-row frame (the
    theta_of/filter/union/intersect/except chain) — referenced
    exactly once, no repeated top-k subtrees. The exact-twin agg is
    the audit column; production persists the two k-min lists and
    answers ANY audience-overlap expression at read time without
    re-scanning events. Cite: reference main.R:96-103 dedupes on
    content identity; this lifts that digest idiom to
    set-cardinality algebra (same family as q_agg_kmv_distinct)."""
    m_lit = F.lit(_KMV_M)  # 2^60 as double, one shared literal
    m_int = F.lit(1 << 60).cast("long")
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error") & (F.col("value") > 80)
    )
    pu = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("in_a"),
        F.max((F.col("event_type") == "error").cast("int")).alias("in_b"),
    ).select(
        "in_a",
        "in_b",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("h"),
    )

    def kmin_arr(flag: str, name: str) -> DataFrame:
        top = (
            pu.filter(F.col(flag) == 1)
            .select("h")
            .orderBy("h")
            .limit(_THETA_K)
        )
        return top.agg(F.array_sort(F.collect_list("h")).alias(name))

    def theta_of(arr: str):
        return F.when(
            F.size(arr) >= _THETA_K, F.element_at(arr, _THETA_K)
        ).otherwise(m_int)

    st = (
        kmin_arr("in_a", "arr_a")
        .crossJoin(kmin_arr("in_b", "arr_b"))
        .withColumn("th", F.least(theta_of("arr_a"), theta_of("arr_b")))
        .withColumn(
            "fa", F.filter("arr_a", lambda x: x < F.col("th"))
        )
        .withColumn(
            "fb", F.filter("arr_b", lambda x: x < F.col("th"))
        )
        .select(
            "th",
            F.size(F.array_union("fa", "fb")).cast("long").alias("cnt_u"),
            F.size(F.array_intersect("fa", "fb")).cast("long").alias("cnt_i"),
            F.size(F.array_except("fa", "fb")).cast("long").alias("cnt_d"),
        )
    )
    ex = pu.agg(
        F.sum("in_a").alias("n_a"),
        F.sum("in_b").alias("n_b"),
        F.count(F.lit(1)).alias("n_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
    )
    scale = m_lit / F.col("th").cast("double")
    est = lambda c: F.round(F.col(c).cast("double") * scale, 4)  # noqa: E731
    return ex.crossJoin(st).select(
        "n_a",
        "n_b",
        "n_union",
        "n_inter",
        (F.col("n_a") - F.col("n_inter")).cast("long").alias("n_diff"),
        est("cnt_u").alias("theta_union"),
        est("cnt_i").alias("theta_inter"),
        est("cnt_d").alias("theta_diff"),
        F.round(
            F.abs(est("cnt_u") - F.col("n_union"))
            / F.greatest(F.col("n_union"), F.lit(1)),
            4,
        ).alias("rel_err_union"),
        F.round(
            F.abs(est("cnt_i") - F.col("n_inter"))
            / F.greatest(F.col("n_inter"), F.lit(1)),
            4,
        ).alias("rel_err_inter"),
    )


QUERIES["q_agg_theta_setops"] = q_agg_theta_setops

_THETA_M_INT = 1 << 60

ORACLE["q_agg_theta_setops"] = (
    "WITH pu AS (SELECT "
    "max((event_type = 'purchase')::INT) AS in_a, "
    "max((event_type = 'error')::INT) AS in_b, "
    "(('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h "
    "FROM events WHERE event_type IN ('purchase', 'error') "
    "AND value > 80 GROUP BY user_id), "
    f"sa AS (SELECT h FROM pu WHERE in_a = 1 ORDER BY h LIMIT {_THETA_K}), "
    f"sb AS (SELECT h FROM pu WHERE in_b = 1 ORDER BY h LIMIT {_THETA_K}), "
    f"ta AS (SELECT CASE WHEN count(*) >= {_THETA_K} THEN max(h) "
    f"ELSE {_THETA_M_INT} END AS th_a FROM sa), "
    f"tb AS (SELECT CASE WHEN count(*) >= {_THETA_K} THEN max(h) "
    f"ELSE {_THETA_M_INT} END AS th_b FROM sb), "
    "th AS (SELECT least(th_a, th_b) AS th FROM ta, tb), "
    "m AS (SELECT coalesce(sa.h, sb.h) AS h, "
    "(sa.h IS NOT NULL) AS ia, (sb.h IS NOT NULL) AS ib "
    "FROM sa FULL JOIN sb ON sa.h = sb.h), "
    "c AS (SELECT count(*)::BIGINT AS cnt_u, "
    "coalesce(sum((ia AND ib)::INT), 0)::BIGINT AS cnt_i, "
    "coalesce(sum((ia AND NOT ib)::INT), 0)::BIGINT AS cnt_d "
    "FROM m, th WHERE m.h < th.th), "
    "ex AS (SELECT sum(in_a)::BIGINT AS n_a, sum(in_b)::BIGINT AS n_b, "
    "count(*)::BIGINT AS n_union, sum(in_a * in_b)::BIGINT AS n_inter "
    "FROM pu) "
    "SELECT n_a, n_b, n_union, n_inter, (n_a - n_inter)::BIGINT AS n_diff, "
    f"round(cnt_u::DOUBLE * ({_KMV_M!r} / th::DOUBLE), 4) AS theta_union, "
    f"round(cnt_i::DOUBLE * ({_KMV_M!r} / th::DOUBLE), 4) AS theta_inter, "
    f"round(cnt_d::DOUBLE * ({_KMV_M!r} / th::DOUBLE), 4) AS theta_diff, "
    f"round(abs(round(cnt_u::DOUBLE * ({_KMV_M!r} / th::DOUBLE), 4) - n_union) "
    "/ greatest(n_union, 1), 4) AS rel_err_union, "
    f"round(abs(round(cnt_i::DOUBLE * ({_KMV_M!r} / th::DOUBLE), 4) - n_inter) "
    "/ greatest(n_inter, 1), 4) AS rel_err_inter "
    "FROM ex, c, th"
)


def q_agg_theta_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience-overlap MATRIX across all event types from
    per-type k-min lists — :func:`q_agg_theta_setops` generalized
    from one set pair to the full type x type frame (10 unordered
    pairs here): per pair, theta' = least of the two per-type
    thetas, the retained-below-theta' counts give the intersection
    estimate ``cnt_i * M/theta'`` and the estimated Jaccard is the
    INTEGER ratio ``cnt_i / cnt_u`` (the M/theta' scale cancels —
    one engine-identical double division, no float accumulation).
    Exact intersection/Jaccard twins and audited error ride along.

    Scale: ONE exchange on (type, digest) builds the distinct hash
    relation; the per-type rank is the oracle-friendly spelling of
    the k-min list (the persisted form is rollup.py's KMV state —
    ``theta_overlap_from_kmv_rollup`` is this query's read-time
    twin, replay-pinned); every pair computation joins frames
    bounded by types x k rows (<= 5 x 64 here), broadcast-trivial at
    any volume. The exact twin (per-user type-pair self-join) is
    the audit column — production drops it and keeps the k-min
    matrix, which answers ALL pairs from one persisted sketch set.
    Value > 80 cut: the plain type split is degenerate (every
    fixture user does every type — the q_agg_lc_setops lesson)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(F.col("value") > 80)
    hd = kmv_hash_rows(e, "user_id", "event_type")
    w = Window.partitionBy("event_type").orderBy("h")
    # per-type k-min ARRAY (<= k longs each — the bounded state the
    # rollup persists), so each side of the pair frame references
    # the ranked relation exactly once; all pair algebra below is
    # array expressions over a types^2/2-row frame
    karr = (
        hd.select("event_type", "h", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _THETA_K)
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_list("h")).alias("arr"))
    )
    m_int = F.lit(1 << 60).cast("long")

    def theta_of(arr: str):
        return F.when(
            F.size(arr) >= _THETA_K, F.element_at(arr, _THETA_K)
        ).otherwise(m_int)

    full = (
        karr.select(
            F.col("event_type").alias("type_a"), F.col("arr").alias("arr_a")
        )
        .join(
            karr.select(
                F.col("event_type").alias("type_b"), F.col("arr").alias("arr_b")
            ),
            F.col("type_a") < F.col("type_b"),
        )
        .withColumn(
            "thp", F.least(theta_of("arr_a"), theta_of("arr_b"))
        )
        .withColumn("fa", F.filter("arr_a", lambda x: x < F.col("thp")))
        .withColumn("fb", F.filter("arr_b", lambda x: x < F.col("thp")))
        .select(
            "type_a",
            "type_b",
            "thp",
            F.size("fa").cast("long").alias("cnt_a"),
            F.size("fb").cast("long").alias("cnt_b"),
            F.size(F.array_intersect("fa", "fb")).cast("long").alias("cnt_i"),
        )
    )
    ud = e.select("event_type", "user_id").distinct()
    nn = ud.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ne = (
        ud.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            ud.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    full = (
        full.join(ne, ["type_a", "type_b"], "left")
        .join(nn.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a")), "type_a")
        .join(nn.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b")), "type_b")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)).cast("long"))
    )
    cnt_u = F.greatest(
        F.col("cnt_a") + F.col("cnt_b") - F.col("cnt_i"), F.lit(1)
    )
    n_union = F.greatest(
        F.col("n_a") + F.col("n_b") - F.col("n_inter"), F.lit(1)
    )
    theta_i = F.round(
        F.col("cnt_i").cast("double")
        * (F.lit(_KMV_M) / F.col("thp").cast("double")),
        4,
    )
    return full.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_inter",
        theta_i.alias("theta_inter"),
        F.round(F.col("cnt_i").cast("double") / cnt_u, 4).alias("jacc_est"),
        F.round(F.col("n_inter").cast("double") / n_union, 4).alias("jacc"),
        F.round(
            F.abs(theta_i - F.col("n_inter"))
            / F.greatest(F.col("n_inter"), F.lit(1)),
            4,
        ).alias("rel_err_inter"),
    )


QUERIES["q_agg_theta_matrix"] = q_agg_theta_matrix

ORACLE["q_agg_theta_matrix"] = (
    "WITH e AS (SELECT event_type, user_id FROM events WHERE value > 80), "
    "hd AS (SELECT DISTINCT event_type, "
    "(('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h "
    "FROM e), "
    "r AS (SELECT event_type, h, row_number() OVER "
    "(PARTITION BY event_type ORDER BY h) AS rn FROM hd), "
    f"ka AS (SELECT event_type, h, rn FROM r WHERE rn <= {_THETA_K}), "
    "t AS (SELECT event_type, count(*)::BIGINT AS n_state, "
    f"max(CASE WHEN rn = {_THETA_K} THEN h END)::BIGINT AS hk "
    "FROM ka GROUP BY event_type), "
    f"th AS (SELECT event_type, CASE WHEN n_state >= {_THETA_K} THEN hk "
    f"ELSE {_THETA_M_INT} END AS th FROM t), "
    "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, "
    "least(a.th, b.th) AS thp FROM th a JOIN th b "
    "ON a.event_type < b.event_type), "
    "ca AS (SELECT p.type_a, p.type_b, count(*)::BIGINT AS cnt_a FROM p "
    "JOIN ka x ON x.event_type = p.type_a AND x.h < p.thp "
    "GROUP BY 1, 2), "
    "cb AS (SELECT p.type_a, p.type_b, count(*)::BIGINT AS cnt_b FROM p "
    "JOIN ka x ON x.event_type = p.type_b AND x.h < p.thp "
    "GROUP BY 1, 2), "
    "ci AS (SELECT p.type_a, p.type_b, count(*)::BIGINT AS cnt_i FROM p "
    "JOIN ka x ON x.event_type = p.type_a AND x.h < p.thp "
    "JOIN ka y ON y.event_type = p.type_b AND y.h = x.h "
    "GROUP BY 1, 2), "
    "ud AS (SELECT DISTINCT event_type, user_id FROM e), "
    "nn AS (SELECT event_type, count(*)::BIGINT AS n FROM ud "
    "GROUP BY event_type), "
    "ne AS (SELECT a.event_type AS type_a, b.event_type AS type_b, "
    "count(*)::BIGINT AS n_inter FROM ud a JOIN ud b "
    "ON a.user_id = b.user_id AND a.event_type < b.event_type "
    "GROUP BY 1, 2), "
    "f AS (SELECT p.type_a, p.type_b, na.n AS n_a, nb.n AS n_b, "
    "coalesce(ne.n_inter, 0)::BIGINT AS n_inter, "
    "coalesce(ca.cnt_a, 0)::BIGINT AS cnt_a, "
    "coalesce(cb.cnt_b, 0)::BIGINT AS cnt_b, "
    "coalesce(ci.cnt_i, 0)::BIGINT AS cnt_i, p.thp FROM p "
    "LEFT JOIN ca USING (type_a, type_b) "
    "LEFT JOIN cb USING (type_a, type_b) "
    "LEFT JOIN ci USING (type_a, type_b) "
    "LEFT JOIN ne USING (type_a, type_b) "
    "JOIN nn na ON na.event_type = p.type_a "
    "JOIN nn nb ON nb.event_type = p.type_b) "
    "SELECT type_a, type_b, n_a, n_b, n_inter, "
    f"round(cnt_i::DOUBLE * ({_KMV_M!r} / thp::DOUBLE), 4) AS theta_inter, "
    "round(cnt_i::DOUBLE / greatest(cnt_a + cnt_b - cnt_i, 1), 4) "
    "AS jacc_est, "
    "round(n_inter::DOUBLE / greatest(n_a + n_b - n_inter, 1), 4) AS jacc, "
    f"round(abs(round(cnt_i::DOUBLE * ({_KMV_M!r} / thp::DOUBLE), 4) "
    "- n_inter) / greatest(n_inter, 1), 4) AS rel_err_inter "
    "FROM f"
)


#: bottom-k sample size for the mergeable quantile sketch.
_BK_K = 256


def q_agg_quantile_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k-sample quantiles with audited error — the
    100 TB percentile primitive. Exact percentiles need a full sort
    (or a one-pass t-digest/KLL whose internals are
    engine-specific); a BOTTOM-K sample by a fixed row hash is (a) a
    uniform sample of the rows, (b) LOSSLESSLY mergeable (the k
    smallest hashes of a union are contained in the union of
    per-partition bottom-k lists — the KMV/rollup.py merge
    contract, here keyed per event type), and (c) hash-certifiable:
    both engines pick the identical sample, so discrete percentiles
    over it are bit-identical. Output carries the sample estimates
    AND the exact full-data percentiles with absolute errors — the
    audited-error column pattern (production drops the exact side
    and keeps the O(k)-state sketch; a streaming producer emits
    per-pane bottom-k rows exactly like the KMV panes).

    Scale: the sample build is one row_number window per type over
    (h, event_id) — at 100 TB swap to the rollup form (per-pane
    bottom-k union, never a global window); the exact audit side is
    the only full-sort stage and is fixture-only."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select("event_type", "value", "event_id")
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = Window.partitionBy("event_type").orderBy("h", "event_id")
    samp = (
        e.withColumn("h", h)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BK_K)
    )

    def disc(p):
        return F.expr(
            f"percentile_disc({p!r}) WITHIN GROUP (ORDER BY value)"
        )

    est = samp.groupBy("event_type").agg(
        disc(0.5).alias("p50_est"),
        disc(0.9).alias("p90_est"),
        disc(0.99).alias("p99_est"),
        F.count(F.lit(1)).alias("n_sample"),
    )
    exact = e.groupBy("event_type").agg(
        disc(0.5).alias("p50"),
        disc(0.9).alias("p90"),
        disc(0.99).alias("p99"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_rows",
        "n_sample",
        "p50_est",
        "p90_est",
        "p99_est",
        "p50",
        "p90",
        "p99",
        F.round(F.abs(F.col("p50_est") - F.col("p50")), 4).alias("err_p50"),
        F.round(F.abs(F.col("p90_est") - F.col("p90")), 4).alias("err_p90"),
        F.round(F.abs(F.col("p99_est") - F.col("p99")), 4).alias("err_p99"),
    )


QUERIES["q_agg_quantile_bottomk"] = q_agg_quantile_bottomk

ORACLE["q_agg_quantile_bottomk"] = (
    "WITH e AS (SELECT event_type, value, event_id, "
    "(('0x' || substr(md5(event_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h "
    "FROM events), "
    "s AS (SELECT event_type, value FROM ("
    "  SELECT event_type, value, row_number() OVER ("
    "    PARTITION BY event_type ORDER BY h, event_id) AS rn FROM e) "
    f"  WHERE rn <= {_BK_K}), "
    "est AS (SELECT event_type, "
    "  quantile_disc(value, 0.5) AS p50_est, "
    "  quantile_disc(value, 0.9) AS p90_est, "
    "  quantile_disc(value, 0.99) AS p99_est, "
    "  count(*)::BIGINT AS n_sample FROM s GROUP BY event_type), "
    "ex AS (SELECT event_type, "
    "  quantile_disc(value, 0.5) AS p50, "
    "  quantile_disc(value, 0.9) AS p90, "
    "  quantile_disc(value, 0.99) AS p99, "
    "  count(*)::BIGINT AS n_rows FROM e GROUP BY event_type) "
    "SELECT est.event_type, n_rows, n_sample, "
    "p50_est, p90_est, p99_est, p50, p90, p99, "
    "round(abs(p50_est - p50), 4) AS err_p50, "
    "round(abs(p90_est - p90), 4) AS err_p90, "
    "round(abs(p99_est - p99), 4) AS err_p99 "
    "FROM est JOIN ex ON est.event_type = ex.event_type"
)


#: join-size sketch shape: wider than the frequency CM (collision
#: cross-terms enter the estimate MULTIPLICATIVELY in the inner
#: product, so width is the accuracy lever; 256 keeps the fixture
#: estimate under 2x — measured blowup 3.2 at width 64, ~1.5 at 256
#: — while depth x width stays a 768-cell broadcast).
_JS_DEPTH = 3
_JS_WIDTH = 256


def _js_bucket(depth_col, key_col):
    """Row-i bucket for a join key: the _cm_bucket hash family at
    _JS_WIDTH (same md5 "i:key" prefix, engine-independent)."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", depth_col.cast("string"), key_col)),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_JS_WIDTH),
    )


def q_join_size_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation via count-min inner product
    (Cormode & Muthukrishnan 2005, §4.2): |A JOIN B on k| = sum_k
    a_k * b_k is estimated as min over depth rows i of
    sum_j A_i[j] * B_i[j] — a ONE-SIDED overestimate (hash-collision
    cross terms are non-negative), the query-planner primitive that
    decides broadcast-vs-shuffle and salting BEFORE paying the join.
    A = click events, B = purchase events, key = user_id.

    Certifiable end to end: md5 bucket hashes, integer cells,
    integer inner products (<= |A| * |B| / width per row — BIGINT
    holds past 10^9 x 10^9 rows at width _JS_WIDTH=256) — both
    engines rebuild
    the identical sketch. Output audits the estimate against the
    exact join size (one group-join at fixture scale; production
    keeps only the two O(depth x width) sketches, built in ONE scan
    of each side with map-side collapse — the q_agg_countmin
    exchange bound — and never joins the data)."""
    e = table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").cast("string").alias("k")
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("string").alias("k")
    )
    depths = F.explode(F.sequence(F.lit(0), F.lit(_JS_DEPTH - 1)))

    def cells(side):
        return (
            side.select("k", depths.alias("i"))
            .select("i", _js_bucket(F.col("i"), F.col("k")).alias("bucket"))
            .groupBy("i", "bucket")
            .agg(F.count(F.lit(1)).alias("cell"))
        )

    ca = cells(a).withColumnRenamed("cell", "ca")
    cb = cells(b).withColumnRenamed("cell", "cb")
    ip = (
        ca.join(cb, ["i", "bucket"])
        .groupBy("i")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
        .agg(F.min("ip").alias("join_size_est"))
    )
    na = a.groupBy("k").agg(F.count(F.lit(1)).alias("na"))
    nb = b.groupBy("k").agg(F.count(F.lit(1)).alias("nb"))
    exact = na.join(nb, "k").agg(
        F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
        .cast("long")
        .alias("join_size")
    )
    return ip.crossJoin(exact).select(
        "join_size",
        "join_size_est",
        (F.col("join_size_est") - F.col("join_size")).alias("overcount"),
        F.round(
            F.col("join_size_est") / F.greatest(F.col("join_size"), F.lit(1)), 4
        ).alias("blowup"),
    )


QUERIES["q_join_size_cm"] = q_join_size_cm

ORACLE["q_join_size_cm"] = (
    "WITH a AS (SELECT user_id::VARCHAR AS k FROM events "
    "WHERE event_type = 'click'), "
    "b AS (SELECT user_id::VARCHAR AS k FROM events "
    "WHERE event_type = 'purchase'), "
    f"d AS (SELECT unnest(range({_JS_DEPTH})) AS i), "
    "ca AS (SELECT i, (('0x' || substr(md5(i::VARCHAR || ':' || k), 1, 15))"
    f"::UBIGINT % {_JS_WIDTH})::BIGINT AS bucket, "
    "count(*)::BIGINT AS ca FROM a, d GROUP BY 1, 2), "
    "cb AS (SELECT i, (('0x' || substr(md5(i::VARCHAR || ':' || k), 1, 15))"
    f"::UBIGINT % {_JS_WIDTH})::BIGINT AS bucket, "
    "count(*)::BIGINT AS cb FROM b, d GROUP BY 1, 2), "
    "ip AS (SELECT min(s)::BIGINT AS join_size_est FROM ("
    "  SELECT i, sum(ca * cb) AS s FROM ca JOIN cb USING (i, bucket) "
    "  GROUP BY i)), "
    "ex AS (SELECT coalesce(sum(na * nb), 0)::BIGINT AS join_size FROM "
    "  (SELECT k, count(*) AS na FROM a GROUP BY k) "
    "  JOIN (SELECT k, count(*) AS nb FROM b GROUP BY k) USING (k)) "
    "SELECT join_size, join_size_est, "
    "join_size_est - join_size AS overcount, "
    "round(join_size_est / greatest(join_size, 1), 4) AS blowup "
    "FROM ip, ex"
)


def q_stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) between the
    AUTOMOBILE and MACHINERY balance distributions on the same
    64-bucket grid as ``q_stat_ks_binned`` — the nonparametric
    location-shift gate of the drift family (KS sees the worst ECDF
    gap, chi-squared sees reshaping, MW sees "did the whole
    distribution slide"). Binning makes the rank statistic exact ON
    THE BINS (every bin is one tie group) and scale-safe: exact MW
    needs global order statistics — a full sort of the union — while
    this is one hash agg to ≤ 64 cells plus a 64-row window.

    Integer-exact cross-engine: with per-bin counts (ca, cb) and
    ascending cumulative cb, 2·U_a = Σ ca·(2·cum_cb_prev + cb) —
    wins count twice, within-bin ties once — and the tie-correction
    term Σ(t³ − t) (t = bin total) are BIGINT sums; only the final
    z-score (normal approximation with tie-corrected variance) and
    the rank-biserial effect size divide, once, and round at 6.
    BIGINT ceilings: t³ caps a bin at ~2.09e6 rows, 2·U at
    ~3e9 rows/side — far past any per-batch drift check; past that,
    promote the tie term to DOUBLE (exact to 2^53) or pre-scale.

    Scale: counts collapse map-side; the cumulative window runs over
    the ≤64-row grid, never the data (single-partition exchange
    allowlisted exactly like q_stat_ks_binned's)."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY")
    )
    bucket = F.least(
        F.floor((F.col("c_acctbal") - _HP_LO) / _HP_W), F.lit(_HP_B - 1)
    ).cast("int")
    counts = c.groupBy(bucket.alias("bucket")).agg(
        F.sum((F.col("c_mktsegment") == "AUTOMOBILE").cast("long")).alias("ca"),
        F.sum((F.col("c_mktsegment") == "MACHINERY").cast("long")).alias("cb"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    t = F.col("ca") + F.col("cb")
    per = counts.select(
        "ca",
        "cb",
        (
            F.col("ca")
            * (2 * F.coalesce(F.sum("cb").over(w), F.lit(0)) + F.col("cb"))
        ).alias("u2_term"),
        (t * t * t - t).alias("tie_term"),
    )
    agg = per.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum("u2_term").alias("u2_a"),
        F.sum("tie_term").alias("ties"),
    )
    n = F.col("n_a") + F.col("n_b")
    var = (
        F.col("n_a").cast("double")
        * F.col("n_b")
        / 12.0
        * ((n + 1) - F.col("ties") / (n * (n - 1.0)))
    )
    return agg.select(
        "n_a",
        "n_b",
        "u2_a",
        F.round(
            (F.col("u2_a") - F.col("n_a").cast("double") * F.col("n_b"))
            / (2.0 * F.sqrt(var)),
            6,
        ).alias("z_score"),
        F.round(
            F.col("u2_a") / (F.col("n_a").cast("double") * F.col("n_b")) - 1.0,
            6,
        ).alias("rank_biserial"),
    )


QUERIES["q_stat_mann_whitney"] = q_stat_mann_whitney

ORACLE["q_stat_mann_whitney"] = (
    "WITH c AS (SELECT c_mktsegment, "
    f"least(floor((c_acctbal - ({_HP_LO!r})) / {_HP_W!r}), {_HP_B - 1})::INT "
    "  AS bucket FROM customer "
    "  WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')), "
    "cnt AS (SELECT bucket, "
    "  sum((c_mktsegment = 'AUTOMOBILE')::INT)::BIGINT AS ca, "
    "  sum((c_mktsegment = 'MACHINERY')::INT)::BIGINT AS cb "
    "  FROM c GROUP BY bucket), "
    "per AS (SELECT ca, cb, "
    "  ca * (2 * coalesce(sum(cb) OVER (ORDER BY bucket "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cb) "
    "    AS u2_term, "
    "  (ca + cb) * (ca + cb) * (ca + cb) - (ca + cb) AS tie_term "
    "  FROM cnt), "
    "agg AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b, "
    "  sum(u2_term)::BIGINT AS u2_a, sum(tie_term)::BIGINT AS ties FROM per) "
    "SELECT n_a, n_b, u2_a, "
    "round((u2_a - n_a::DOUBLE * n_b) / (2.0 * sqrt(n_a::DOUBLE * n_b / 12.0 "
    "  * ((n_a + n_b + 1) - ties / ((n_a + n_b) * (n_a + n_b - 1.0))))), 6) "
    "  AS z_score, "
    "round(u2_a / (n_a::DOUBLE * n_b) - 1.0, 6) AS rank_biserial "
    "FROM agg"
)


def q_stat_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch t-test (unequal variances) between the
    AUTOMOBILE and MACHINERY balance distributions — the PARAMETRIC
    lens that completes the drift quartet (KS: worst ECDF gap;
    chi-squared: reshaping; Mann-Whitney: rank slide; Welch: mean
    shift in original units, with its Satterthwaite df).

    Cross-engine exactness: balances reduce through the
    ``_money_fp`` idiom at CENTS scale (2dp money -> exact BIGINT),
    so n, Σx and Σx² are association-order-proof integer sums —
    BIGINT ceiling for Σx² is ~9e18 / (1e6)² ≈ 9e6 rows per segment
    at max balance, i.e. ~sf60; past that pre-center on an integer
    pivot or promote to DOUBLE (exact to 2^53). Every downstream
    step (means, variances, t, df) is a fixed tree of IEEE
    double ops on identical integers, rounded at 6 only for output.

    Scale: one scan, map-side partial sums to a 1-row frame —
    the cheapest query in the drift family."""
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY")
    )
    from .tpch import _money_fp

    x = _money_fp(F.col("c_acctbal"), scale=100)
    is_a = (F.col("c_mktsegment") == "AUTOMOBILE").cast("long")
    is_b = (F.col("c_mktsegment") == "MACHINERY").cast("long")
    agg = c.select(
        is_a.alias("ia"), is_b.alias("ib"), x.alias("x")
    ).agg(
        F.sum("ia").alias("n_a"),
        F.sum("ib").alias("n_b"),
        F.sum(F.col("ia") * F.col("x")).alias("sa"),
        F.sum(F.col("ib") * F.col("x")).alias("sb"),
        F.sum(F.col("ia") * F.col("x") * F.col("x")).alias("qa"),
        F.sum(F.col("ib") * F.col("x") * F.col("x")).alias("qb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("sa").cast("double") / na
    mb = F.col("sb").cast("double") / nb
    va = (F.col("qa").cast("double") - F.col("sa").cast("double") * F.col("sa") / na) / (na - 1.0)
    vb = (F.col("qb").cast("double") - F.col("sb").cast("double") * F.col("sb") / nb) / (nb - 1.0)
    sea = va / na
    seb = vb / nb
    se2 = sea + seb
    t_stat = (ma - mb) / F.sqrt(se2)
    df_ws = se2 * se2 / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0))
    return agg.select(
        "n_a",
        "n_b",
        F.round(ma / 100.0, 6).alias("mean_a"),
        F.round(mb / 100.0, 6).alias("mean_b"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(df_ws, 4).alias("df_welch"),
    )


QUERIES["q_stat_welch_t"] = q_stat_welch_t
ORACLE["q_stat_welch_t"] = (
    "WITH c AS (SELECT c_mktsegment, "
    "  floor(round(c_acctbal, 9) * 100 + 0.5)::BIGINT AS x "
    "  FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')), "
    "agg AS (SELECT "
    "  sum((c_mktsegment = 'AUTOMOBILE')::INT)::BIGINT AS n_a, "
    "  sum((c_mktsegment = 'MACHINERY')::INT)::BIGINT AS n_b, "
    "  sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN x ELSE 0 END)::BIGINT AS sa, "
    "  sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN x ELSE 0 END)::BIGINT AS sb, "
    "  sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN x * x ELSE 0 END)::BIGINT AS qa, "
    "  sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN x * x ELSE 0 END)::BIGINT AS qb "
    "  FROM c), "
    "s AS (SELECT n_a, n_b, "
    "  sa::DOUBLE / n_a::DOUBLE AS ma, sb::DOUBLE / n_b::DOUBLE AS mb, "
    "  (qa::DOUBLE - sa::DOUBLE * sa / n_a::DOUBLE) / (n_a::DOUBLE - 1.0) AS va, "
    "  (qb::DOUBLE - sb::DOUBLE * sb / n_b::DOUBLE) / (n_b::DOUBLE - 1.0) AS vb "
    "  FROM agg), "
    "se AS (SELECT *, va / n_a::DOUBLE AS sea, vb / n_b::DOUBLE AS seb, "
    "  va / n_a::DOUBLE + vb / n_b::DOUBLE AS se2 FROM s) "
    "SELECT n_a, n_b, round(ma / 100.0, 6) AS mean_a, "
    "round(mb / 100.0, 6) AS mean_b, "
    "round((ma - mb) / sqrt(se2), 6) AS t_stat, "
    "round(se2 * se2 / (sea * sea / (n_a::DOUBLE - 1.0) "
    "  + seb * seb / (n_b::DOUBLE - 1.0)), 4) AS df_welch "
    "FROM se"
)
