"""Data-quality and entity-resolution operators (SURVEY.md §2 [EXT]).

- **constraint checker** (``q_dq_checks``): the dbt-test /
  Deequ-style validation report — not-null, uniqueness,
  accepted-values, referential integrity, numeric range — emitted
  as one row per check with its violation count. Per-table checks
  collapse into ONE conditional aggregation per table (a naive
  check-per-scan runs the 100 TB scan k times; this runs it once),
  plus one anti-join for the cross-table referential check.
- **fuzzy entity matching** (``q_er_fuzzy_blocked``): candidate
  duplicate customers via blocking (same nation) + Levenshtein ≤ 2
  on the name. Blocked comparison is the classic ER shape: the
  self-join is equi-anchored on the block key so comparisons are
  quadratic only WITHIN a block; at 100 TB add a block-size cap or
  sorted-neighborhood windowing (same guard family as the dedup
  caps — see ``dedup.MAX_SHINGLE_DF``). Both engines implement
  classic Levenshtein, so distances hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table

#: policy bound for the discount range check (deliberately tighter
#: than the generator's [0, 0.1] so the report shows real nonzero
#: violation counts, not a wall of zeros).
MAX_DISCOUNT_POLICY = 0.05


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation report: (check_name, n_violations, n_rows)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    o_agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.isnull("o_custkey").cast("bigint")).alias(
            "not_null_o_custkey"
        ),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "unique_o_orderkey"
        ),
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F")).cast("bigint")
        ).alias("accepted_values_o_orderstatus"),
    )
    o_checks = o_agg.unpivot(
        ids=["n_rows"],
        values=[
            "not_null_o_custkey",
            "unique_o_orderkey",
            "accepted_values_o_orderstatus",
        ],
        variableColumnName="check_name",
        valueColumnName="n_violations",
    )

    l_agg = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            (
                (F.col("l_discount") < 0)
                | (F.col("l_discount") > MAX_DISCOUNT_POLICY)
            ).cast("bigint")
        ).alias("range_l_discount_policy"),
        F.sum((F.col("l_quantity") <= 0).cast("bigint")).alias(
            "positive_l_quantity"
        ),
    )
    l_checks = l_agg.unpivot(
        ids=["n_rows"],
        values=["range_l_discount_policy", "positive_l_quantity"],
        variableColumnName="check_name",
        valueColumnName="n_violations",
    )

    orphans = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .crossJoin(F.broadcast(li.agg(F.count(F.lit(1)).alias("n_rows"))))
        .select(
            "n_rows",
            F.lit("ref_lineitem_orderkey").alias("check_name"),
            "n_violations",
        )
    )

    return o_checks.unionByName(l_checks).unionByName(orphans).select(
        "check_name", "n_violations", "n_rows"
    )


def q_er_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy match: same-nation customer pairs whose names
    are within Levenshtein distance 2. The in-block comparison is
    deliberately quadratic (``q_er_sorted_neighborhood`` is the
    linear-cost alternative) — but since r15 it is SALTED (the
    similarity._pairs_from_state trick: a-side replicated ×8, b-side
    hashed to one salt, explicit-N repartition), because the r15
    exponent cohort caught the unsalted form serializing at sf1: 25
    nation keys of tiny shuffle INPUT, so AQE coalesced the ~900M-
    comparison expansion into one task."""
    _salt = 8
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n_part = spark.sparkContext.defaultParallelism
    a = c.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_salt - 1)))
    )
    b = (
        c.select(
            F.col("c_custkey").alias("custkey_b"),
            F.col("c_name").alias("name_b"),
            F.col("c_nationkey").alias("nationkey_b"),
        )
        .withColumn(
            "salt_b",
            F.pmod(F.xxhash64("custkey_b"), F.lit(_salt)).cast("int"),
        )
    )
    a = a.repartition(n_part, "c_nationkey", "salt")
    b = b.repartition(n_part, "nationkey_b", "salt_b")
    # THRESHOLDED levenshtein (r16 optimization pass, guide §1.2
    # step 2 — per-task work): levenshtein(x, y, k) runs the banded
    # O(k·n) DP with early exit and returns -1 when the distance
    # exceeds k, vs the unbounded O(n²) full matrix. For the <= 2
    # filter the thresholded value is EXACT on every surviving row
    # (d <= 2 is returned as d), so output is bit-identical while the
    # dominant in-block compare (~4.5M pairs at sf0.1) does ~¼ the
    # cell work. Measured: pair stage 2.46 -> 1.70 s at sf0.1
    # (best-of-3 incl. plan build — the protocol OPTIMIZATION_r16.md
    # reports; the single warm-plan rep measured 1.22 s).
    lev = F.levenshtein(F.col("c_name"), F.col("name_b"), 2)
    return (
        a.join(
            b,
            (a.c_nationkey == b.nationkey_b)
            & (a.salt == b.salt_b)
            & (a.c_custkey < b.custkey_b),
        )
        .where(lev >= 0)
        .select(
            F.col("c_custkey").alias("custkey_a"),
            F.col("custkey_b"),
            lev.alias("lev_dist"),
        )
    )


#: sorted-neighborhood window width (each record compares with its
#: next W sort-neighbors only).
SN_WINDOW = 5


def q_er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution — the linear-cost
    alternative to in-block quadratic comparison promised in
    :func:`q_er_fuzzy_blocked`'s scale notes: within each nation
    block, records sort by name and each compares against only its
    next ``SN_WINDOW`` neighbors (``lead(k)`` columns — cost is
    O(n·W), never O(n²)). The window stays PARTITIONED by the block
    key, so the plan shuffles once on nation and sorts per block; a
    global (un-blocked) sorted neighborhood would range-partition
    the sort key the same way Spark's distributed orderBy does.

    Recall note (shared by the oracle, which states the identical
    neighborhood semantics): near-duplicates more than W positions
    apart in sort order are not compared — the standard SN
    trade-off; multi-pass SN with a second sort key recovers them.
    """
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("c_nationkey").orderBy("c_name", "c_custkey")
    cols = [
        F.struct(
            F.lead("c_custkey", k).over(w).alias("custkey_b"),
            F.lead("c_name", k).over(w).alias("name_b"),
        ).alias(f"nb{k}")
        for k in range(1, SN_WINDOW + 1)
    ]
    exploded = (
        c.select("c_custkey", "c_name", *cols)
        .select(
            "c_custkey",
            "c_name",
            F.explode(F.array(*[F.col(f"nb{k}") for k in range(1, SN_WINDOW + 1)])).alias(
                "nb"
            ),
        )
        .where(F.col("nb.custkey_b").isNotNull())
    )
    lev = F.levenshtein(F.col("c_name"), F.col("nb.name_b"))
    # canonical pair orientation: custkey_a < custkey_b regardless of
    # name-sort order, so the subset relation vs q_er_fuzzy_blocked
    # holds on any data, not just data where names sort like keys
    return exploded.where(lev <= 2).select(
        F.least(F.col("c_custkey"), F.col("nb.custkey_b")).alias("custkey_a"),
        F.greatest(F.col("c_custkey"), F.col("nb.custkey_b")).alias("custkey_b"),
        lev.alias("lev_dist"),
    )


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of ``orders`` — null count and exact
    distinct count per column plus the table rowcount: the
    first-contact profiling report every ingestion pipeline runs
    before writing expectations (``q_dq_checks`` encodes the rules
    this report suggests).

    ONE scan: every column's null/distinct aggregate lives in the
    same hash-agg row (Spark plans multi-distinct as one expand, a
    single pass); the wide 1-row result pivots to long form with an
    explode over column structs — no second scan, no shuffle beyond
    the scalar agg. At 100 TB swap exact distincts for
    ``approx_count_distinct`` on the same plan (the
    ``q_agg_approx_distinct`` twin)."""
    o = table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.isnull(c).cast("bigint")).alias(f"null_{c}")
            for c in _PROFILE_COLS
        ],
        *[
            F.count_distinct(F.col(c)).alias(f"dist_{c}")
            for c in _PROFILE_COLS
        ],
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"null_{c}").alias("n_null"),
                F.col(f"dist_{c}").alias("n_distinct"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return agg.select("n_rows", F.explode(entries).alias("e")).select(
        F.col("e.col_name").alias("col_name"),
        F.col("e.n_null").alias("n_null"),
        F.col("e.n_distinct").alias("n_distinct"),
        "n_rows",
    )


QUERIES = {
    "q_dq_checks": q_dq_checks,
    "q_dq_profile": q_dq_profile,
    "q_er_fuzzy_blocked": q_er_fuzzy_blocked,
    "q_er_sorted_neighborhood": q_er_sorted_neighborhood,
}

_PROFILE_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS col_name, "
    f"(count(*) - count({c}))::BIGINT AS n_null, "
    f"count(DISTINCT {c})::BIGINT AS n_distinct, "
    "count(*)::BIGINT AS n_rows FROM orders"
    for c in _PROFILE_COLS
)

ORACLE = {
    "q_dq_profile": _PROFILE_SQL,
    "q_dq_checks": (
        "WITH o_agg AS (SELECT count(*) AS n_rows, "
        "sum((o_custkey IS NULL)::BIGINT) AS not_null_o_custkey, "
        "count(*) - count(DISTINCT o_orderkey) AS unique_o_orderkey, "
        "sum((o_orderstatus NOT IN ('O', 'F'))::BIGINT) "
        "AS accepted_values_o_orderstatus FROM orders), "
        "l_agg AS (SELECT count(*) AS n_rows, "
        "sum((l_discount < 0 OR l_discount > %(d)s)::BIGINT) "
        "AS range_l_discount_policy, "
        "sum((l_quantity <= 0)::BIGINT) AS positive_l_quantity "
        "FROM lineitem), "
        "orphans AS (SELECT (SELECT count(*) FROM lineitem) AS n_rows, "
        "'ref_lineitem_orderkey' AS check_name, count(*) AS n_violations "
        "FROM lineitem l WHERE NOT EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) "
        "SELECT 'not_null_o_custkey' AS check_name, "
        "not_null_o_custkey::BIGINT AS n_violations, n_rows FROM o_agg "
        "UNION ALL SELECT 'unique_o_orderkey', "
        "unique_o_orderkey::BIGINT, n_rows FROM o_agg "
        "UNION ALL SELECT 'accepted_values_o_orderstatus', "
        "accepted_values_o_orderstatus::BIGINT, n_rows FROM o_agg "
        "UNION ALL SELECT 'range_l_discount_policy', "
        "range_l_discount_policy::BIGINT, n_rows FROM l_agg "
        "UNION ALL SELECT 'positive_l_quantity', "
        "positive_l_quantity::BIGINT, n_rows FROM l_agg "
        "UNION ALL SELECT check_name, n_violations::BIGINT, n_rows "
        "FROM orphans" % {"d": MAX_DISCOUNT_POLICY}
    ),
    "q_er_fuzzy_blocked": (
        "SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b, "
        "levenshtein(a.c_name, b.c_name)::INT AS lev_dist "
        "FROM customer a JOIN customer b "
        "ON a.c_nationkey = b.c_nationkey "
        "AND a.c_custkey < b.c_custkey "
        "WHERE levenshtein(a.c_name, b.c_name) <= 2"
    ),
    "q_er_sorted_neighborhood": (
        "WITH r AS (SELECT c_custkey, c_name, c_nationkey, "
        "row_number() OVER (PARTITION BY c_nationkey "
        "ORDER BY c_name, c_custkey) AS rn FROM customer) "
        # least/greatest: canonical custkey_a < custkey_b orientation,
        # matching the Spark side
        "SELECT least(a.c_custkey, b.c_custkey) AS custkey_a, "
        "greatest(a.c_custkey, b.c_custkey) AS custkey_b, "
        "levenshtein(a.c_name, b.c_name)::INT AS lev_dist "
        "FROM r a JOIN r b ON a.c_nationkey = b.c_nationkey "
        f"AND b.rn - a.rn BETWEEN 1 AND {SN_WINDOW} "
        "WHERE levenshtein(a.c_name, b.c_name) <= 2"
    ),
}


_KANON_K = 5


def q_dq_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002, IJUFKS — public) over the
    quasi-identifier pair (nation, market segment): every
    equivalence class with its size, flagged when smaller than
    k=5 — the re-identification risk gate a privacy review runs
    before a table ships to training. Emits the class grain so the
    follow-up (suppress or generalize) is actionable; risk_rows
    aggregates bubble up in the summary row (class = '__TOTAL__').

    Scale: ONE hash agg on the quasi-identifier tuple (map-side
    partials), plus a 1-row summary union — the q_agg_groupby
    class; no joins, no windows."""
    c = table(spark, sf_dir, "customer")
    cls = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    classes = cls.select(
        F.concat_ws(
            "|", F.col("c_nationkey").cast("string"), F.col("c_mktsegment")
        ).alias("qi_class"),
        "class_size",
        (F.col("class_size") < _KANON_K).cast("int").alias("at_risk"),
    )
    total = cls.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum((F.col("class_size") < _KANON_K).cast("int")).alias(
            "risk_classes"
        ),
        F.sum(
            F.when(F.col("class_size") < _KANON_K, F.col("class_size")).otherwise(
                F.lit(0)
            )
        ).alias("risk_rows"),
    ).select(
        F.lit("__TOTAL__").alias("qi_class"),
        F.col("risk_rows").cast("long").alias("class_size"),
        F.col("risk_classes").cast("int").alias("at_risk"),
    )
    return classes.unionByName(total)


QUERIES["q_dq_kanonymity"] = q_dq_kanonymity

ORACLE["q_dq_kanonymity"] = (
    "WITH cls AS (SELECT c_nationkey, c_mktsegment, "
    "count(*)::BIGINT AS class_size FROM customer "
    "GROUP BY c_nationkey, c_mktsegment) "
    "SELECT c_nationkey::VARCHAR || '|' || c_mktsegment AS qi_class, "
    f"class_size, (class_size < {_KANON_K})::INT AS at_risk FROM cls "
    "UNION ALL "
    "SELECT '__TOTAL__' AS qi_class, "
    f"coalesce(sum(CASE WHEN class_size < {_KANON_K} THEN class_size "
    "ELSE 0 END), 0)::BIGINT AS class_size, "
    f"coalesce(sum((class_size < {_KANON_K})::INT), 0)::INT AS at_risk "
    "FROM cls"
)

# Benford expected first-digit mass log10(1 + 1/d), computed once in
# Python and inlined as identical double literals into both engines
# (the decay-rate idiom, timeseries.py)
import math as _m

_BENFORD_P = {d: _m.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order totals
    (Benford 1938 / Nigrini's fraud-screening use — public): the
    observed count per leading digit 1..9 against the Benford
    expectation n*log10(1+1/d), with the relative deviation as the
    audited column. Natural multi-scale amounts should hug the law;
    a fabricated or truncated feed jumps out digit-by-digit.

    The first significant digit is extracted from the DECIMAL's
    string form (strip non-1-9, take the head) — immune to the
    cross-engine float-log pitfalls of floor(x/10^floor(log10 x))
    at power-of-ten boundaries. Expected masses are Python-computed
    double literals embedded in BOTH engines; per-digit expectation
    and deviation each use one IEEE multiply/divide.

    Scale: one map-side digit projection + a 9-cell hash agg — the
    cheapest audit in the dq family."""
    o = table(spark, sf_dir, "orders")
    digit = F.substring(
        F.regexp_replace(F.col("o_totalprice").cast("string"), "[^1-9]", ""),
        1,
        1,
    )
    obs = (
        o.filter(digit != "")
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    p = F.create_map(
        *[
            x
            for d, pd in _BENFORD_P.items()
            for x in (F.lit(str(d)), F.lit(pd))
        ]
    )
    tot = obs.agg(F.sum("n_obs").alias("n")).select("n")
    exp = F.round(F.col("n").cast("double") * p[F.col("digit")], 4)
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            exp.alias("n_expected"),
            F.round(
                (F.col("n_obs") - exp) / exp,
                4,
            ).alias("rel_dev"),
        )
    )


QUERIES["q_dq_benford"] = q_dq_benford

_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN '{d}' THEN {p!r}" for d, p in _BENFORD_P.items())
    + " END"
)

ORACLE["q_dq_benford"] = (
    "WITH s AS (SELECT substr(regexp_replace(o_totalprice::VARCHAR, "
    "'[^1-9]', '', 'g'), 1, 1) AS digit FROM orders), "
    "obs AS (SELECT digit, count(*)::BIGINT AS n_obs FROM s "
    "WHERE digit <> '' GROUP BY digit), "
    "tot AS (SELECT sum(n_obs)::BIGINT AS n FROM obs) "
    "SELECT digit, n_obs, "
    f"round(n::DOUBLE * ({_BENFORD_CASE}), 4) AS n_expected, "
    f"round((n_obs - round(n::DOUBLE * ({_BENFORD_CASE}), 4)) "
    f"/ round(n::DOUBLE * ({_BENFORD_CASE}), 4), 4) AS rel_dev "
    "FROM obs, tot"
)


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report between two corpus
    snapshots — the monitor a training-data pipeline runs when a new
    crawl lands (is the source mix / language mix / length profile
    shifting vs the corpus we trained on?). The split is the usual
    deterministic md5 bucket of doc_id (ref = buckets [0,50),
    cur = [50,100) — a stand-in for "last snapshot" vs "this
    snapshot"); three monitored features unpivot from ONE scan:
    ``source`` (categorical), ``lang`` (categorical), and ``len``
    (equi-width n_chars/25 bins).

    Per (feature, bin): PSI term = (p_cur − p_ref)·ln(p_cur/p_ref)
    with Laplace smoothing p = (n + 0.5)/(N + 0.5·B) so one-sided
    bins (a bin present in only one snapshot — exactly what drift
    looks like) stay finite. Terms are per-bin, never summed across
    bins in-engine, so there is no float-association hazard; ln ulp
    differences across libms are absorbed by round-6 (the
    ``q_text_unigram_logprob`` convention).

    Scale: one corpus scan → explode(3 structs) → one hash agg on
    (feature, bin); the window that supplies per-feature totals and
    bin counts runs on the AGGREGATED frame (|bins| rows, not
    |corpus|). Monitored-feature cardinality is bounded by policy
    (a drift monitor on an unbounded-cardinality key is a bug), so
    the report is small regardless of corpus size. The per-bin
    counts are a mergeable monoid — ``rollup.update_drift_rollup``
    maintains them incrementally per landing batch and
    ``read_drift_psi`` (pinned row-identical to this query) derives
    the same report from the persisted state."""
    d = table(spark, sf_dir, "documents")
    cnt = drift_counts(d)
    return psi_report(cnt)


def drift_rows(d: DataFrame) -> DataFrame:
    """(side, feature, bin) rows for the drift monitor: the md5
    snapshot split and the three monitored features unpivoted from
    one scan — shared by the one-shot query and the rollup's
    partial-state builder."""
    from .sampling import hash_bucket

    side = F.when(
        hash_bucket(F.col("doc_id").cast("string")) < 50, F.lit("ref")
    ).otherwise(F.lit("cur"))
    feats = F.array(
        F.struct(
            F.lit("source").alias("feature"), F.col("source").alias("bin")
        ),
        F.struct(F.lit("lang").alias("feature"), F.col("lang").alias("bin")),
        F.struct(
            F.lit("len").alias("feature"),
            F.floor(F.col("n_chars") / 25).cast("string").alias("bin"),
        ),
    )
    return d.select(side.alias("side"), F.explode(feats).alias("f")).select(
        "side", F.col("f.feature").alias("feature"), F.col("f.bin").alias("bin")
    )


def drift_counts(d: DataFrame) -> DataFrame:
    """Per-(feature, bin) ref/cur counts — the drift monitor's
    mergeable partial state (plain BIGINT sums)."""
    return drift_rows(d).groupBy("feature", "bin").agg(
        F.sum(F.when(F.col("side") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("side") == "cur", 1).otherwise(0)).alias("n_cur"),
    )


def psi_report(cnt: DataFrame) -> DataFrame:
    """Finalize the PSI report from (feature, bin, n_ref, n_cur)
    counts — window over the bins frame only."""
    from pyspark.sql import Window

    w = Window.partitionBy("feature")
    p_ref = (F.col("n_ref") + 0.5) / (
        F.sum("n_ref").over(w) + 0.5 * F.count(F.lit(1)).over(w)
    )
    p_cur = (F.col("n_cur") + 0.5) / (
        F.sum("n_cur").over(w) + 0.5 * F.count(F.lit(1)).over(w)
    )
    return cnt.select(
        "feature",
        "bin",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


QUERIES["q_drift_psi"] = q_drift_psi

ORACLE["q_drift_psi"] = (
    "WITH base AS (SELECT CASE WHEN "
    "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 100) < 50 "
    "THEN 'ref' ELSE 'cur' END AS side, source, lang, n_chars "
    "FROM documents), "
    "r AS (SELECT side, 'source' AS feature, source AS bin FROM base "
    "UNION ALL SELECT side, 'lang', lang FROM base "
    "UNION ALL SELECT side, 'len', (n_chars // 25)::VARCHAR FROM base), "
    "cnt AS (SELECT feature, bin, "
    "sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END)::BIGINT AS n_ref, "
    "sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END)::BIGINT AS n_cur "
    "FROM r GROUP BY feature, bin) "
    "SELECT feature, bin, n_ref, n_cur, "
    "round(((n_cur + 0.5) / (sum(n_cur) OVER (PARTITION BY feature) "
    "+ 0.5 * count(*) OVER (PARTITION BY feature)) "
    "- (n_ref + 0.5) / (sum(n_ref) OVER (PARTITION BY feature) "
    "+ 0.5 * count(*) OVER (PARTITION BY feature))) "
    "* ln(((n_cur + 0.5) / (sum(n_cur) OVER (PARTITION BY feature) "
    "+ 0.5 * count(*) OVER (PARTITION BY feature))) "
    "/ ((n_ref + 0.5) / (sum(n_ref) OVER (PARTITION BY feature) "
    "+ 0.5 * count(*) OVER (PARTITION BY feature)))), 6) AS psi_term "
    "FROM cnt"
)


def q_drift_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned earth-mover (1-D Wasserstein) distance between the two
    snapshots' LENGTH distributions — the third drift lens (PSI sees
    per-bin reshaping, KS the worst single ECDF gap, EMD the total
    transport work — i.e. HOW FAR mass moved, which PSI and KS both
    under-report for a small shift applied everywhere). Bins are the
    ordinal n_chars/25 grid of ``q_drift_psi``'s len feature; on a
    1-D ordinal grid EMD = Σ_bins |ECDF_ref − ECDF_cur| exactly —
    PROVIDED the grid is contiguous, so the finalizer densifies it
    first (``emd_report``): empty interior bins must contribute
    their |ECDF| gap once per step, else transport across a k-bin
    gap is counted once instead of k times (ADVICE r12).

    Integer-exact cross-engine: ECDFs are compared cross-multiplied
    as |cum_ref·n_cur − cum_cur·n_ref| (BIGINT), summed as BIGINT,
    and divided ONCE by n_ref·n_cur at the end (round 6; the unit is
    bins-of-transport). Same ceiling class as the stat family
    (documented at q_stat_mann_whitney).

    Scale: one scan → one hash agg on the bin key (map-side
    partials); densification and the cumulative window run over the
    |bins|-row grid, never the corpus (single-partition exchange
    allowlisted like q_stat_ks_binned's)."""
    from .sampling import hash_bucket

    d = table(spark, sf_dir, "documents")
    side = F.when(
        hash_bucket(F.col("doc_id").cast("string")) < 50, F.lit("ref")
    ).otherwise(F.lit("cur"))
    cnt = d.select(
        side.alias("side"),
        F.floor(F.col("n_chars") / 25).cast("int").alias("bin"),
    ).groupBy("bin").agg(
        F.sum(F.when(F.col("side") == "ref", 1).otherwise(0)).alias("cr"),
        F.sum(F.when(F.col("side") == "cur", 1).otherwise(0)).alias("cc"),
    )
    return emd_report(cnt)


def emd_report(cnt: DataFrame) -> DataFrame:
    """Finalize the binned-EMD report from a (bin, cr, cc) counts
    frame — ONE finalizer shared by ``q_drift_emd`` and
    ``rollup.read_drift_emd`` (they were inline twins that could
    silently drift apart; ADVICE r12 low).

    Densifies the ordinal grid first — ``sequence(min, max)``
    exploded and left-joined to the counts with zero fill — so an
    empty interior bin contributes its |ECDF_ref − ECDF_cur| gap
    once per step. On the sparse populated-bins-only frame a k-bin
    gap contributed ONE term instead of k, under-reporting transport
    across gaps (ADVICE r12 medium); on the contiguous grid
    Σ_bins |ECDF| IS the 1-D Wasserstein distance in bin units.

    All |bins|-bounded: the bounds agg is 1 row, the grid explode
    ≤ (max−min+1) rows, and the counts side broadcasts."""
    from pyspark.sql import Window

    bounds = cnt.agg(F.min("bin").alias("lo"), F.max("bin").alias("hi"))
    grid = bounds.select(F.explode(F.sequence("lo", "hi")).alias("bin"))
    dense = grid.join(F.broadcast(cnt), "bin", "left").select(
        "bin",
        F.coalesce("cr", F.lit(0)).alias("cr"),
        F.coalesce("cc", F.lit(0)).alias("cc"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = dense.select(
        F.sum("cr").over(w).alias("cum_r"), F.sum("cc").over(w).alias("cum_c")
    )
    # the cross-multiplied |cum_r*n_cur - cum_c*n_ref| needs the
    # totals alongside every grid row: a 1-row broadcast frame
    # (bins-bounded arithmetic, never the corpus)
    tot = cnt.agg(
        F.sum("cr").alias("n_ref"), F.sum("cc").alias("n_cur")
    )
    terms = cum.crossJoin(F.broadcast(tot)).select(
        "n_ref",
        "n_cur",
        F.abs(
            F.col("cum_r") * F.col("n_cur") - F.col("cum_c") * F.col("n_ref")
        ).alias("t"),
    )
    return terms.groupBy("n_ref", "n_cur").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.round(
            F.sum("t") / (F.col("n_ref").cast("double") * F.col("n_cur")), 6
        ).alias("emd_bins"),
    )


QUERIES["q_drift_emd"] = q_drift_emd

ORACLE["q_drift_emd"] = (
    "WITH base AS (SELECT CASE WHEN "
    "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 100) < 50 "
    "THEN 'ref' ELSE 'cur' END AS side, (n_chars // 25)::INT AS bin "
    "FROM documents), "
    "cnt AS (SELECT bin, "
    "sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END)::BIGINT AS cr, "
    "sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END)::BIGINT AS cc "
    "FROM base GROUP BY bin), "
    "bounds AS (SELECT min(bin) AS lo, max(bin) AS hi FROM cnt), "
    "grid AS (SELECT unnest(generate_series(lo, hi))::INT AS bin "
    "FROM bounds), "
    "dense AS (SELECT grid.bin, coalesce(cr, 0)::BIGINT AS cr, "
    "coalesce(cc, 0)::BIGINT AS cc FROM grid LEFT JOIN cnt USING (bin)), "
    "cum AS (SELECT sum(cr) OVER (ORDER BY bin)::BIGINT AS cum_r, "
    "sum(cc) OVER (ORDER BY bin)::BIGINT AS cum_c FROM dense), "
    "tot AS (SELECT sum(cr)::BIGINT AS n_ref, sum(cc)::BIGINT AS n_cur "
    "FROM cnt) "
    "SELECT n_ref, n_cur, count(*)::BIGINT AS n_bins, "
    "round(sum(abs(cum_r * n_cur - cum_c * n_ref)) "
    "/ (n_ref::DOUBLE * n_cur), 6) AS emd_bins "
    "FROM cum CROSS JOIN tot GROUP BY n_ref, n_cur"
)


def q_dq_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit — the schema-inference /
    data-contract check a warehouse runs before trusting a column
    as a key: for the candidate dependency ``c_nationkey ->
    c_mktsegment`` over customer, report per LHS value how many
    rows, how many DISTINCT RHS values, the majority-RHS support,
    and the violation count (rows outside the majority — the rows a
    repair job would quarantine). ``fd_holds`` = 1 iff the LHS value
    maps to exactly one RHS value; the dependency holds globally iff
    every row has it 1. A real deployment sweeps many candidate
    pairs with the same two-agg plan.

    All-integer output; exactly two hash aggregations ((lhs, rhs)
    counts, then lhs rollup) — partial aggregation collapses hot
    keys map-side, nothing else shuffles at any scale."""
    c = table(spark, sf_dir, "customer")
    pair = c.groupBy(
        F.col("c_nationkey").alias("lhs"),
        F.col("c_mktsegment").alias("rhs"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return pair.groupBy("lhs").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct_rhs"),
        F.max("n").cast("long").alias("majority_n"),
        (F.sum("n") - F.max("n")).cast("long").alias("n_violations"),
        F.when(F.count(F.lit(1)) == 1, 1).otherwise(0).alias("fd_holds"),
    )


QUERIES["q_dq_fd_check"] = q_dq_fd_check

ORACLE["q_dq_fd_check"] = (
    "WITH pair AS (SELECT c_nationkey AS lhs, c_mktsegment AS rhs, "
    "count(*)::BIGINT AS n FROM customer GROUP BY 1, 2) "
    "SELECT lhs, sum(n)::BIGINT AS n_rows, "
    "count(*)::BIGINT AS n_distinct_rhs, "
    "max(n)::BIGINT AS majority_n, "
    "(sum(n) - max(n))::BIGINT AS n_violations, "
    "CASE WHEN count(*) = 1 THEN 1 ELSE 0 END AS fd_holds "
    "FROM pair GROUP BY lhs"
)


def q_drift_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift as Jensen-Shannon
    divergence (Lin 1991 — symmetric, bounded by ln 2, the standard
    "did this feed's vocabulary shift" monitor a crawl mixture
    runs): for each source, JSD between ITS unigram distribution P
    and the whole-corpus distribution Q — outlier feeds rank first.
    Output: (source, n_tokens, jsd).

    Determinism contract: p = c_st/n_s and q = c_t/n are exact
    BIGINT ratios evaluated identically in both engines; each
    OBSERVED token's JSD contribution 0.5·p·ln(2p/(p+q)) +
    0.5·q·ln(2q/(p+q)) is fixed-pointed (round 9, ×1e9, BIGINT —
    terms are O(1e-4), so round 9 keeps 5 significant digits)
    BEFORE the per-source sum. The p = 0 cells have the CLOSED FORM
    0.5·q·ln 2 (2q/(0+q) = 2), so their whole contribution collapses
    to one per-source correction 0.5·ln 2·(n − s_q)/n where s_q =
    Σ c_t over the source's observed tokens (exact BIGINT) — fixed-
    pointed once per source with the same round-9 spelling; jsd is
    the exact integer sum (terms + correction) ÷ 1e9. (r15 verdict:
    the previous spelling materialized the full |sources|×|vocab|
    grid just to add those q-half terms.)

    Scale: ONE (source, token) hash agg builds the conditional
    counts; the corpus model rides the SAME table as a token-
    partitioned window sum (never a second corpus pass and no
    vocab-keyed join output — the frame stays |observed cells|);
    the per-source totals (|sources| rows) and the corpus total
    (1 row) are broadcast; the term sum shuffles only observed
    (source, token) fixed-point ints on the source key. The p = 0
    closed form removes the |sources|× inflation entirely — the
    dominant shuffle is now the observed-cell count at any corpus
    size."""
    d = table(spark, sf_dir, "documents")
    st = (
        d.select(
            "source",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    from pyspark.sql import Window

    # corpus token counts as a window over the SAME frame: one
    # shuffle on tok, no separate |vocab| frame to join back
    stc = st.withColumn(
        "c_t", F.sum("c_st").over(Window.partitionBy("tok"))
    )
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    n = ns.agg(F.sum("n_s").alias("n"))
    obs = stc.join(F.broadcast(ns), "source").crossJoin(F.broadcast(n))
    p = F.col("c_st") / F.col("n_s")
    q = F.col("c_t") / F.col("n")
    term = 0.5 * p * F.log(2 * p / (p + q)) + 0.5 * q * F.log(
        2 * q / (p + q)
    )
    term_fp = F.floor(F.round(term, 9) * 1e9 + F.lit(0.5)).cast("bigint")
    per = (
        obs.select(
            "source",
            "n_s",
            term_fp.alias("t_fp"),
            "c_t",
        )
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.sum("t_fp").alias("s_t"),
            F.sum("c_t").alias("s_q"),
        )
    )
    corr_fp = F.floor(
        F.round(
            F.lit(0.5)
            * ((F.col("n") - F.col("s_q")) / F.col("n"))
            * F.log(F.lit(2.0)),
            9,
        )
        * 1e9
        + F.lit(0.5)
    ).cast("bigint")
    return per.crossJoin(F.broadcast(n)).select(
        "source",
        "n_tokens",
        ((F.col("s_t") + corr_fp) / F.lit(1e9)).alias("jsd"),
    )


QUERIES["q_drift_jsd"] = q_drift_jsd

ORACLE["q_drift_jsd"] = (
    "WITH t AS (SELECT source, unnest(string_split_regex(trim(text), "
    "'\\s+')) AS tok FROM documents), "
    "st AS (SELECT source, tok, count(*)::BIGINT AS c_st FROM t "
    "  WHERE tok <> '' GROUP BY source, tok), "
    "stc AS (SELECT source, tok, c_st, "
    "  sum(c_st) OVER (PARTITION BY tok)::BIGINT AS c_t FROM st), "
    "ns AS (SELECT source, sum(c_st)::BIGINT AS n_s FROM st GROUP BY source), "
    "n AS (SELECT sum(n_s)::BIGINT AS n FROM ns), "
    "pq AS (SELECT stc.source, ns.n_s, stc.c_t, "
    "  stc.c_st::DOUBLE / ns.n_s AS p, "
    "  stc.c_t::DOUBLE / n.n AS q "
    "  FROM stc JOIN ns ON ns.source = stc.source CROSS JOIN n), "
    "terms AS (SELECT source, n_s, c_t, floor(round("
    "  0.5 * p * ln(2 * p / (p + q)) "
    "  + 0.5 * q * ln(2 * q / (p + q)), 9) * 1e9 + 0.5)::BIGINT AS t_fp "
    "  FROM pq), "
    "per AS (SELECT source, max(n_s)::BIGINT AS n_tokens, "
    "  sum(t_fp)::BIGINT AS s_t, sum(c_t)::BIGINT AS s_q "
    "  FROM terms GROUP BY source) "
    "SELECT source, n_tokens, "
    "(s_t + floor(round(0.5 * ((n.n - s_q)::DOUBLE / n.n) * ln(2.0), 9) "
    "* 1e9 + 0.5)::BIGINT) / 1e9 AS jsd "
    "FROM per CROSS JOIN n"
)


def q_er_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution CLUSTER + canonical-record election — the
    consumer ``q_er_fuzzy_blocked`` was missing (match pairs are not
    an MDM deliverable; golden records are): connected components
    over the blocked fuzzy-match pairs, canonical = minimum custkey
    per component (the deterministic survivorship rule; real MDM
    swaps in recency/completeness scoring at this exact spot).
    Output, one row per matched record: (custkey, cluster_id,
    is_canonical, n_members). Completes the cluster-consumer family:
    lexical (q_dedup_cluster), semantic (q_sim_knn_clusters), image
    (q_multimodal_dedup_cluster), and now entities.

    Scale: the pair stage is the certified nation-blocked match;
    components via the shared ``graph.components`` core
    (finished on the driver below its pair gate, star rounds above
    it); sizes are one hash agg on the cluster key. Oracle:
    recursive label-spread CTE over the fuzzy-pair SQL."""
    from .graph import components

    pairs = q_er_fuzzy_blocked(spark, sf_dir).select(
        F.col("custkey_a").alias("u"), F.col("custkey_b").alias("v")
    )
    cc = components(pairs, caller="q_er_cluster")
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return cc.join(sizes, "cluster_id").select(
        F.col("node").alias("custkey"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).cast("bigint").alias(
            "is_canonical"
        ),
        "n_members",
    )


QUERIES["q_er_cluster"] = q_er_cluster

ORACLE["q_er_cluster"] = (
    "WITH RECURSIVE pairs AS ("
    "SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b "
    "FROM customer a JOIN customer b "
    "ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey "
    "WHERE levenshtein(a.c_name, b.c_name) <= 2), "
    "edges AS (SELECT custkey_a AS src, custkey_b AS dst FROM pairs "
    "          UNION ALL SELECT custkey_b, custkey_a FROM pairs), "
    "nodes AS (SELECT DISTINCT src AS node FROM edges), "
    "reach(node, lab) AS ("
    "  SELECT node, node FROM nodes "
    "  UNION "
    "  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node), "
    "cc AS (SELECT node AS custkey, min(lab) AS cluster_id "
    "  FROM reach GROUP BY node) "
    "SELECT custkey, cluster_id, "
    "(custkey = cluster_id)::BIGINT AS is_canonical, "
    "(count(*) OVER (PARTITION BY cluster_id))::BIGINT AS n_members FROM cc"
)
