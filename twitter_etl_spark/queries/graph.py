"""Graph analytics over the relational tables (SURVEY.md §2 [EXT]).

The co-purchase graph: nodes are parts, with an undirected edge
between two parts iff they appear in the same order (per-order pair
generation is bounded by order size, so edge construction is a
self-join on ``l_orderkey`` that never goes quadratic in the table).

- **degree** (``q_graph_degree``): top-20 hub parts by distinct
  co-purchase partners.
- **triangles** (``q_graph_triangles``): global triangle count via
  the DEGREE-ORDERED node-iterator algorithm: orient every edge
  from its lower-(degree, id) endpoint to the higher one, generate
  wedges only at each triangle's minimum node, and close them
  against the oriented edge set. Wedge count is O(m^1.5) instead of
  O(sum deg²) — the difference between feasible and not at 100 TB
  (the oracle states the naive 3-way join; the answer is identical,
  each triangle counted exactly once at its minimum-ordered vertex).
- **neighbor-set Jaccard** (``q_graph_jaccard``): item-item
  similarity of suppliers by customer-base overlap — the
  collaborative-filtering building block. Candidate pairs come from
  a self-join on the customer pivot; a pivot with d items generates
  d(d-1)/2 pairs, so power-pivots (customers buying from everyone)
  are capped exactly like the shingle df cap in
  ``q_dedup_ngram_jaccard`` — the standard lever that keeps
  set-similarity joins sub-quadratic at scale.
- **PageRank** (``q_graph_pagerank``): 3 unrolled iterations over
  the nation adjacency (same-region cliques), damping 0.85, in
  FIXED-POINT INTEGER arithmetic (ranks scaled by 10^12, integer
  division): float summation order across engines is undefined, so
  the cross-engine contract demands exact arithmetic. Each
  iteration is one equi-join + one hash agg — the standard
  iterate-as-dataflow shape (no driver-side state but the loop
  counter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables import table
from .dedup import q_dedup_ngram_jaccard

#: fixed-point scale for PageRank ranks (1.0 == 10**12).
PR_SCALE = 10**12
PR_ITERS = 3


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges (a < b by part id)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    b = li.withColumnRenamed("l_partkey", "p2")
    return (
        li.join(b, "l_orderkey")
        .where(F.col("l_partkey") < F.col("p2"))
        .select(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .distinct()
    )


def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 hub parts by co-purchase degree (distinct partners).
    Edge build + one union + one hash agg; top-k compiles to
    TakeOrderedAndProject."""
    e = _edges(spark, sf_dir)
    nodes = e.select(F.col("a").alias("node")).unionAll(
        e.select(F.col("b").alias("node"))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.desc("degree"), "node")
        .limit(20)
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count, degree-ordered (see module docstring).

    Orientation: edge {x, y} points from the endpoint with the
    smaller (degree, id) key to the larger. Wedges are generated
    per out-neighborhood — whose size the orientation bounds by
    O(sqrt(m)) — and closed with one more equi-join against the
    oriented edges."""
    e = _edges(spark, sf_dir)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        e.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    out = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dd"),
    )
    o1 = out.select(
        F.col("src"), F.col("dst").alias("v"), F.col("dd").alias("dv")
    )
    o2 = out.select(
        F.col("src"), F.col("dst").alias("w"), F.col("dd").alias("dw")
    )
    wedges = o1.join(o2, "src").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closer = out.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closer, ["v", "w"])
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


#: max items per pivot customer — a pivot with d suppliers yields
#: d(d-1)/2 candidate pairs, so this caps the self-join blowup the
#: way MAX_SHINGLE_DF caps the ngram inverted index. sf0.01 max
#: customer degree is 67, so the cap only bites pathological pivots.
JACCARD_MAX_PIVOT = 128
#: top-k similar pairs reported.
JACCARD_TOPK = 50


def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item neighbor-set Jaccard: the 50 most similar supplier
    pairs by customer-base overlap (reference scope: main.R has no
    graph ops; this is the [EXT] collaborative-filtering primitive).

    ``J(s1,s2) = |cust(s1) ∩ cust(s2)| / |cust(s1) ∪ cust(s2)|``
    over the distinct (customer, supplier) purchase relation.
    Candidate pairs are generated by self-joining that relation on
    the CUSTOMER pivot — only supplier pairs that share at least one
    customer are ever materialized (never the |S|² cross product),
    and pivots with more than ``JACCARD_MAX_PIVOT`` suppliers are
    dropped first (the power-user cap; degrees and the Jaccard
    denominator are computed AFTER the cap so the statistic is exact
    over the capped relation — same contract as the ngram df cap).

    Scale: (cust, supp) is one orders⋈lineitem join shuffling on
    orderkey, then distinct on the pair key; the pivot self-join
    shuffles on custkey and its output is bounded by
    Σ_c min(deg_c, cap)² — the cap makes that linear-ish in
    customers, not quadratic in suppliers. Final top-k compiles to
    TakeOrderedAndProject (no global sort). The (jaccard, s1, s2)
    order key is a total order, so the cut is deterministic."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # cs/csk each feed several consumers, but AQE's ReusedExchange
    # already dedupes the shared subplans — the cache_latest persist
    # was A/B'd at sf0.1 (interleaved best-of-5) and measured NEUTRAL
    # (2.52 s vs 2.42 s), so it is deliberately absent (SCALE.md r8)
    cs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    cdeg = cs.groupBy("cust").agg(F.count(F.lit(1)).alias("cd"))
    csk = (
        cs.join(cdeg, "cust")
        .where(F.col("cd") <= JACCARD_MAX_PIVOT)
        .select("cust", "supp")
    )
    sdeg = csk.groupBy("supp").agg(F.count(F.lit(1)).alias("d"))
    a = csk.select("cust", F.col("supp").alias("s1"))
    b = csk.select("cust", F.col("supp").alias("s2"))
    inter = (
        a.join(b, "cust")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # sdeg is key-space-bounded (one row per supplier) -> broadcast
    d1 = F.broadcast(sdeg.select(F.col("supp").alias("s1"), F.col("d").alias("d1")))
    d2 = F.broadcast(sdeg.select(F.col("supp").alias("s2"), F.col("d").alias("d2")))
    jac = F.round(
        F.col("n_common") / (F.col("d1") + F.col("d2") - F.col("n_common")), 6
    )
    return (
        inter.join(d1, "s1")
        .join(d2, "s2")
        .select("s1", "s2", "n_common", jac.alias("jaccard"))
        .orderBy(F.desc("jaccard"), "s1", "s2")
        .limit(JACCARD_TOPK)
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the nation same-region graph,
    ``PR_ITERS`` unrolled iterations (see module docstring for the
    integer-arithmetic contract)."""
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    m = n.select(
        F.col("n_nationkey").alias("dst"), F.col("n_regionkey").alias("r")
    )
    edges = (
        n.join(m, n["n_regionkey"] == m["r"])
        .where(F.col("n_nationkey") != F.col("dst"))
        .select(F.col("n_nationkey").alias("src"), "dst")
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    esrc = edges.join(deg, "src")
    ranks = n.select(
        F.col("n_nationkey").alias("node"), F.lit(PR_SCALE).alias("r")
    )
    base = (15 * PR_SCALE) // 100
    for _ in range(PR_ITERS):
        contrib = esrc.join(
            ranks, esrc["src"] == ranks["node"]
        ).select("dst", F.expr("r div deg").alias("c"))
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            (F.lit(base) + F.expr("85 * sum(c) div 100")).alias("r")
        )
    return ranks.select(F.col("node").alias("n_nationkey"), F.col("r").alias("rank_fp"))


_CC_STAR_MAX_ROUNDS = 12
#: Largest pair set :func:`_checkpoint_pairs` hands to the driver, so
#: the largest graph :func:`components`, ``q_graph_labelprop`` and
#: ``q_graph_ppr`` finish in NumPy. Sized for 8-byte ids: 2M pairs is
#: ~32 MB of int64 Arrow. String ids cost more per pair — the md5-hex
#: keep-list pairs of the curation rollup hold ~150 MB of Arrow plus
#: ~4M Python str objects at the gate. Above it, each caller runs its
#: Spark rounds on the cluster instead.
_LOCAL_MAX_PAIRS = 2_000_000


def _checkpoint_pairs(pairs: DataFrame) -> tuple:
    """``(P, t)``: ``pairs`` materialized once by ``localCheckpoint``,
    and ``P`` as an Arrow table when it holds at most
    ``_LOCAL_MAX_PAIRS`` rows, else None.

    The rows are counted by an ``Observation`` on the checkpoint job
    itself, so the test costs no job and ships nothing to the driver
    when the graph is too large to finish there; below the gate the
    collect is one more job over the materialized rows."""
    from pyspark.sql import Observation

    size = Observation()
    P = pairs.observe(size, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return P, (P.toArrow() if size.get["n"] <= _LOCAL_MAX_PAIRS else None)


def _large_star(E: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al. 2014, 'Connected Components in
    MapReduce and Beyond' — public): every node links each STRICTLY
    LARGER neighbor to the minimum of its closed neighborhood."""
    sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("min_v"))
        .select("u", F.least("min_v", "u").alias("m"))
    )
    # NO distinct here (r16 optimization pass): _large_star only ever
    # runs composed as _small_star(_large_star(E)) — _small_star's
    # min-aggregation is multiset-insensitive and its own final
    # distinct dedups the round's output, so the extra exchange per
    # round bought nothing. Within-round inflation stays bounded:
    # |large-star output| <= |sym| = 2|E|.
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(E: DataFrame) -> DataFrame:
    """Small-star: orient every edge large→small; every node links
    its smaller neighbors (and itself) to its minimum neighbor."""
    oriented = E.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        oriented.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_link = mins.select("u", F.col("m").alias("v"))
    return (
        relink.union(self_link)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _compact(t: "pyarrow.Table") -> tuple:
    """``(ids, src, dst)`` for the two-column pair table ``t``: the
    sorted distinct ids, and both directions of every pair as compact
    indices into them (the first ``t.num_rows`` entries of ``src`` and
    ``dst`` are the pairs as given). ``np.unique`` sorts, so index
    order is id order whatever the id type."""
    import numpy as np

    m = t.num_rows
    ids, inv = np.unique(
        np.concatenate([t.column(0).to_numpy(), t.column(1).to_numpy()]),
        return_inverse=True,
    )
    return ids, inv, np.concatenate([inv[m:], inv[:m]])


def _local_labels(t: "pyarrow.Table") -> "pyarrow.Table":
    """(node, cluster_id = component min) for every id in the
    two-column pair table ``t``, computed on the driver in NumPy.

    Ids are compacted by :func:`_compact`, so the smallest index in
    a component is its minimum id whatever the id type. Then
    min-label hooking alternates with pointer jumping: every
    edge whose endpoints sit in different trees hangs the larger
    root under the smaller one, and jumping flattens every tree back
    to depth one. Every two passes at least halve the roots of each
    component, so passes are O(log n); an edge inside one tree
    stays inside it, so each pass keeps only the edges that still
    span two trees."""
    import numpy as np
    import pyarrow as pa

    typ = t.schema.field(0).type
    uniq, src, dst = _compact(t)
    u, v = src[: t.num_rows], dst[: t.num_rows]
    root = np.arange(len(uniq))
    while len(u):
        ru, rv = root[u], root[v]
        span = ru != rv
        u, v, ru, rv = u[span], v[span], ru[span], rv[span]
        np.minimum.at(root, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = root[root]
            if np.array_equal(jumped, root):
                break
            root = jumped
    return pa.table(
        {"node": pa.array(uniq, typ), "cluster_id": pa.array(uniq[root], typ)}
    )


def components(pairs: DataFrame, caller: str = "components") -> DataFrame:
    """Connected components of an undirected (u, v) pair frame: one
    row per node that appears in ``pairs`` — a self-pair (u, u) makes
    u a node — as (node, cluster_id), both of the input's id type.

    ``cluster_id`` is the component MINIMUM: the keeper every cluster
    consumer elects, and the one label the DuckDB oracles (recursive
    label-spread CTE, then ``min``) derive identically.

    Two regimes, one answer, picked by :func:`_checkpoint_pairs`:
    - At most ``_LOCAL_MAX_PAIRS`` distinct pairs (every fixture;
      sf0.1 has ~163k): the pair set is collected through Arrow in
      one job and finished on the driver by :func:`_local_labels`.
      A Spark job per round over a few thousand rows is nothing but
      scheduling cost.
    - Above the gate (the scale path): alternating large-star /
      small-star rounds (Kiveris et al. 2014) contract the edge set
      on the cluster in O(log n) rounds whatever the diameter, until
      it stops changing; labels are read off the star forest."""
    # ONE materialization of the caller's pair stage (r16 optimization
    # pass, guide §2.4 "don't compute things twice"): the node frame
    # used to re-derive from `pairs` under a lazy persist, so the
    # (often expensive — levenshtein join, banded-MinHash verify)
    # pair-generating sub-plan executed a SECOND time when the final
    # label join first touched it. Checkpointing the deduped pair set
    # up front makes every later consumer — the node set, the round-1
    # edge set — a cheap re-read of the materialized 8-byte-pair rows.
    P, local = _checkpoint_pairs(pairs.select("u", "v").distinct())
    spark, typ = P.sparkSession, P.schema["u"].dataType
    if local is not None:
        schema = T.StructType(
            [T.StructField("node", typ), T.StructField("cluster_id", typ)]
        )
        return spark.createDataFrame(_local_labels(local), schema)
    nodes = P.select(F.col("u").alias("node")).union(
        P.select(F.col("v").alias("node"))
    ).distinct()
    # Eager localCheckpoint EVERY round, not persist: each star phase
    # references its input twice, so the LOGICAL plan (which persist
    # caches data under but never truncates) quadruples per round —
    # at sf0.1 the knn-cluster run OOM'd the driver just BUILDING the
    # round-12 plan string. localCheckpoint cuts lineage to a flat
    # LogicalRDD per round; the data materialization it forces is
    # work the convergence counts do anyway (the k-core/PPR lesson,
    # now applied inside the loop). Round 1's input is a flat filter
    # over the checkpointed pair set — no second checkpoint needed.
    E = P.where(F.col("u") != F.col("v"))
    converged = False
    # Convergence probing, two tiers (r16 optimization pass, guide
    # §1.2 "per-task work"): the exact symmetric-difference probe (two
    # anti-joins) is only worth paying on the round that actually
    # converged. A (count, Σ xxhash64(u,v)) fingerprint — one tiny
    # scan-agg job over the just-checkpointed edges, no shuffle, no
    # join — is a pure function of the edge multiset, so DIFFERING
    # fingerprints prove the sets differ and the probe can be skipped;
    # EQUAL fingerprints fall through to the exact anti-join probe, so
    # a (astronomically unlikely) hash-sum collision costs one extra
    # probe, never a wrong convergence call. The sum rides a
    # decimal(38,0) so it can't overflow under ANSI at any edge count.
    def _fp(edges: DataFrame) -> tuple:
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    fp = _fp(E)
    for _ in range(_CC_STAR_MAX_ROUNDS):
        new_E = _small_star(_large_star(E)).localCheckpoint()
        new_fp = _fp(new_E)
        if new_fp == fp:
            # ONE symmetric-difference probe job, not two: the two
            # anti-joins union into a single limit(1) count — and it
            # only runs on fingerprint-equal rounds (in practice the
            # converged round), not every round.
            changed = (
                new_E.join(E, ["u", "v"], "left_anti")
                .unionByName(E.join(new_E, ["u", "v"], "left_anti"))
                .limit(1)
                .count()
            )
        else:
            changed = 1
        E, fp = new_E, new_fp
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"{caller}: star contraction hit the "
            f"{_CC_STAR_MAX_ROUNDS}-round cap before the edge set "
            f"stabilized (needs ~log2 of the largest component); labels "
            f"may not be component minima. Raise the round cap.",
            RuntimeWarning,
            stacklevel=2,
        )
    # star forest: every child edge points (child, root); roots have
    # only larger neighbors, so min(closed neighborhood) = self
    sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lab = sym.groupBy("u").agg(F.min("v").alias("min_v"))
    out = nodes.join(lab, nodes["node"] == lab["u"], "left").select(
        "node",
        F.least(F.coalesce("min_v", "node"), "node").alias("cluster_id"),
    )
    # Eager localCheckpoint BEFORE dropping the caches (the
    # k-core/PPR lesson, bitten again in r14): the returned frame's
    # lineage otherwise nests 2 self-referencing star phases per
    # round — each phase references its input twice, so a consumer
    # re-executing after unpersist re-plans a 4^rounds expression
    # tree (q_sim_knn_clusters measured MINUTES of planning at
    # sf0.001 before this fence; the loop itself converges in
    # seconds). The labels frame is (node, cluster_id) — tiny
    # relative to anything upstream.
    out = out.localCheckpoint()
    return out


def q_graph_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the ``q_dedup_ngram_jaccard`` pair
    graph (``q_dedup_cluster`` returns this query), through
    :func:`components`: driver finish below its pair gate,
    alternating large-star / small-star rounds (Kiveris et al. 2014,
    O(log n) rounds whatever the component diameter) above it. Output
    is the per-doc component-min label, certified against the
    recursive-CTE oracle; tests/test_corpus.py pins the star rounds
    row-identical to the driver finish."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    return components(pairs, caller="q_graph_cc_star").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


QUERIES = {
    "q_graph_degree": q_graph_degree,
    "q_graph_triangles": q_graph_triangles,
    "q_graph_jaccard": q_graph_jaccard,
    "q_graph_pagerank": q_graph_pagerank,
    "q_graph_cc_star": q_graph_cc_star,
}

_EDGES = (
    "SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b "
    "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a "
    "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b "
    "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
)

_PR_EDGES = (
    "SELECT a.n_nationkey AS src, b.n_nationkey AS dst "
    "FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey "
    "AND a.n_nationkey <> b.n_nationkey"
)

_PR_BASE = (15 * PR_SCALE) // 100


def _pr_iter(prev: str, out: str) -> str:
    return (
        f"{out} AS (SELECT e.dst AS node, "
        f"{_PR_BASE} + (85 * (sum(p.r // d.deg))::BIGINT) // 100 AS r "
        f"FROM e JOIN deg d ON e.src = d.src "
        f"JOIN {prev} p ON p.node = e.src GROUP BY e.dst)"
    )


ORACLE = {
    "q_graph_degree": (
        "WITH e AS (" + _EDGES + "), "
        "nodes AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e) "
        "SELECT node, count(*) AS degree FROM nodes GROUP BY node "
        "ORDER BY degree DESC, node LIMIT 20"
    ),
    "q_graph_jaccard": (
        "WITH cs AS ("
        "  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp "
        "  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), "
        "cdeg AS (SELECT cust, count(*)::BIGINT AS cd FROM cs GROUP BY cust), "
        "csk AS (SELECT cs.cust, cs.supp FROM cs "
        f"  JOIN cdeg ON cs.cust = cdeg.cust AND cdeg.cd <= {JACCARD_MAX_PIVOT}), "
        "sdeg AS (SELECT supp, count(*)::BIGINT AS d FROM csk GROUP BY supp), "
        "inter AS (SELECT a.supp AS s1, b.supp AS s2, count(*)::BIGINT AS n_common "
        "  FROM csk a JOIN csk b ON a.cust = b.cust AND a.supp < b.supp "
        "  GROUP BY 1, 2) "
        "SELECT s1, s2, n_common, "
        "round(n_common * 1.0 / (d1.d + d2.d - n_common), 6) AS jaccard "
        "FROM inter JOIN sdeg d1 ON inter.s1 = d1.supp "
        "JOIN sdeg d2 ON inter.s2 = d2.supp "
        f"ORDER BY jaccard DESC, s1, s2 LIMIT {JACCARD_TOPK}"
    ),
    "q_graph_triangles": (
        "WITH e AS (" + _EDGES + ") "
        "SELECT count(*) AS n_triangles "
        "FROM e e1 JOIN e e2 ON e1.b = e2.a "
        "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"
    ),
    "q_graph_pagerank": (
        "WITH e AS (" + _PR_EDGES + "), "
        "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src), "
        "it0 AS (SELECT n_nationkey AS node, "
        f"{PR_SCALE}::BIGINT AS r FROM nation), "
        + _pr_iter("it0", "it1") + ", "
        + _pr_iter("it1", "it2") + ", "
        + _pr_iter("it2", "it3") + " "
        "SELECT node AS n_nationkey, r::BIGINT AS rank_fp FROM it3"
    ),
}

# q_graph_cc_star computes the IDENTICAL relation to q_dedup_cluster
# (per-doc component-min label over the same pair graph) by a
# different algorithm — so it certifies against the same
# recursive-CTE oracle; the two implementations cross-check each
# other through it.
from .corpus import _CC_SQL as _CC_STAR_SQL  # noqa: E402

ORACLE["q_graph_cc_star"] = _CC_STAR_SQL


#: fixed-point scale for link-prediction pivot weights.
AA_SCALE = 10**12
AA_TOPK = 50


def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the customer-supplier bipartite
    projection: Adamic-Adar (Σ 1/ln(deg c) over common customers —
    Adamic & Adar 2003, Social Networks) and Resource Allocation
    (Σ 1/deg c — Zhou et al. 2007, EPJ B) scores for the top-50
    supplier pairs. Same capped pivot relation as
    ``q_graph_jaccard`` (pairs exist only through a shared
    customer; power pivots dropped BEFORE pair-gen), so the rare
    common neighbor — the signal both indices weight up — costs
    nothing extra to find.

    Cross-engine exactness: float sums over a pair's common
    customers are order-dependent, so per-PIVOT weights are
    fixed-pointed to BIGINT first (``floor(1e12/ln(cd) + 0.5)``,
    ``floor(1e12/cd + 0.5)``) and pairs sum INTEGERS (the PageRank
    idiom). The RA weight is exact by construction (one correctly-
    rounded IEEE division); the AA weight additionally rides on
    ln(cd) agreeing bit-for-bit across engines — cd takes at most
    ``JACCARD_MAX_PIVOT`` small-integer values, verified stable at
    all three fixture scales (a last-ulp ln divergence would need
    1e12/ln(cd) within one ulp of a .5 boundary to matter).

    Scale: identical exchange profile to q_graph_jaccard — one
    orderkey join, distinct on (cust, supp), capped pivot
    self-join, hash agg on pair keys; the weight join rides the
    pair-gen shuffle (attached to the left side before the
    self-join, no extra exchange). Top-k is
    TakeOrderedAndProject under a total order."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
    )
    cdeg = cs.groupBy("cust").agg(F.count(F.lit(1)).alias("cd"))
    w_aa = F.when(
        F.col("cd") > 1,
        F.floor(F.lit(float(AA_SCALE)) / F.log(F.col("cd").cast("double")) + F.lit(0.5)),
    ).otherwise(F.lit(0)).cast("long")
    w_ra = F.floor(
        F.lit(float(AA_SCALE)) / F.col("cd").cast("double") + F.lit(0.5)
    ).cast("long")
    csk = (
        cs.join(cdeg, "cust")
        .where(F.col("cd") <= JACCARD_MAX_PIVOT)
        .select("cust", "supp", w_aa.alias("w_aa"), w_ra.alias("w_ra"))
    )
    a = csk.select("cust", F.col("supp").alias("s1"), "w_aa", "w_ra")
    b = csk.select("cust", F.col("supp").alias("s2"))
    pairs = (
        a.join(b, "cust")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("w_aa").alias("saa"),
            F.sum("w_ra").alias("sra"),
        )
    )
    return pairs.select(
        "s1",
        "s2",
        "n_common",
        F.round(F.col("saa") / AA_SCALE, 6).alias("aa_score"),
        F.round(F.col("sra") / AA_SCALE, 6).alias("ra_score"),
    ).orderBy(F.desc("ra_score"), "s1", "s2").limit(AA_TOPK)


QUERIES["q_graph_adamic_adar"] = q_graph_adamic_adar

ORACLE["q_graph_adamic_adar"] = (
    "WITH cs AS ("
    "  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp "
    "  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), "
    "cdeg AS (SELECT cust, count(*)::BIGINT AS cd FROM cs GROUP BY cust), "
    "csk AS (SELECT cs.cust, cs.supp, "
    f"  CASE WHEN cd > 1 THEN floor({float(AA_SCALE)!r} / ln(cd::DOUBLE) + 0.5) "
    "    ELSE 0 END::BIGINT AS w_aa, "
    f"  floor({float(AA_SCALE)!r} / cd::DOUBLE + 0.5)::BIGINT AS w_ra "
    "  FROM cs "
    f"  JOIN cdeg ON cs.cust = cdeg.cust AND cdeg.cd <= {JACCARD_MAX_PIVOT}), "
    "pairs AS (SELECT a.supp AS s1, b.supp AS s2, "
    "  count(*)::BIGINT AS n_common, sum(a.w_aa)::BIGINT AS saa, "
    "  sum(a.w_ra)::BIGINT AS sra "
    "  FROM csk a JOIN csk b ON a.cust = b.cust AND a.supp < b.supp "
    "  GROUP BY 1, 2) "
    "SELECT s1, s2, n_common, "
    f"round(saa * 1.0 / {AA_SCALE}, 6) AS aa_score, "
    f"round(sra * 1.0 / {AA_SCALE}, 6) AS ra_score "
    "FROM pairs ORDER BY ra_score DESC, s1, s2 LIMIT "
    f"{AA_TOPK}"
)


LP_ITERS = 3


def _local_labelprop(t: "pyarrow.Table") -> "pyarrow.Table":
    """``q_graph_labelprop``'s rounds and community report over the
    undirected edge table ``t``, computed on the driver in NumPy.

    Round 1 is min(neighbour), as in the Spark rounds. Each later
    round counts the (node, label) votes with one ``np.unique`` over
    ``node * n + label`` keys, which come back sorted by node, then
    label; a stable sort on descending count keeps, first in each
    node's run, its most frequent label with ties to the smallest."""
    import numpy as np
    import pyarrow as pa

    typ = t.schema.field(0).type
    ids, src, dst = _compact(t)
    n = len(ids)
    lbl = np.full(n, n)
    np.minimum.at(lbl, src, dst)
    for _ in range(LP_ITERS - 1):
        keys, c = np.unique(src * n + lbl[dst], return_counts=True)
        node, vote = np.divmod(keys, n)
        best = np.lexsort((-c, node))
        # every node has a neighbour, so node k's run starts at the
        # k-th distinct value of the sorted node column
        first = best[np.searchsorted(node[best], np.arange(n))]
        lbl = vote[first]
    order = np.argsort(lbl, kind="stable")
    comm, start, size = np.unique(
        lbl[order], return_index=True, return_counts=True
    )
    return pa.table(
        {
            "community": pa.array(ids[comm], typ),
            "n_members": pa.array(size, pa.int64()),
            "min_member": pa.array(ids[order[start]], typ),
            "max_member": pa.array(ids[order[start + size - 1]], typ),
        }
    )


def q_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    co-purchase graph (Raghavan 2007, made deterministic): every
    node starts labeled with its own id; each round it adopts the
    MOST FREQUENT label among its neighbors, ties broken to the
    SMALLEST label (integer counts + total tie order = the same
    cross-engine determinism contract as ``q_graph_pagerank``'s
    fixed-point ranks — no float, no RNG). 3 synchronous rounds,
    then a community-size report (the curation consumer wants
    cluster sizes and a representative, not the raw labeling).

    Two regimes, one answer, picked by :func:`_checkpoint_pairs` on
    the checkpointed undirected edge set:
    - At most ``_LOCAL_MAX_PAIRS`` edges (every fixture; sf0.1 has
      ~1.2M): the edges are collected through Arrow and
      :func:`_local_labelprop` runs the rounds and the report in
      NumPy. A Spark job per round over a graph this size is mostly
      scheduling cost.
    - Above the gate (the scale path): per round one equi-join of
      the directed edge list against the |V|-row label frame, one
      hash agg on (node, label) and a per-node struct-max hash agg
      for the argmax. Label state is O(|V|), the join O(|E|) per
      round; at 100 TB the label frame is the thing to co-partition
      with the edge list (both hash on node id) so rounds reuse one
      shuffle layout. Unrolled 3 rounds keep the plan linear in
      rounds; a longer loop would localCheckpoint per round (the
      ``q_geo_dbscan`` lesson)."""
    E, local = _checkpoint_pairs(_edges(spark, sf_dir))
    if local is not None:
        typ = E.schema["a"].dataType
        schema = T.StructType(
            [
                T.StructField("community", typ),
                T.StructField("n_members", T.LongType(), False),
                T.StructField("min_member", typ),
                T.StructField("max_member", typ),
            ]
        )
        return spark.createDataFrame(_local_labelprop(local), schema)
    # the directed edge list feeds the round-1 agg and every later
    # round's join: both re-read the checkpointed edge set
    d = E.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        E.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # Round 1 computed in closed form (r17 optimization pass, guide
    # §1.1 first-principles): labels_0 is the identity map and d is a
    # DISTINCT directed edge list, so every round-1 vote count is
    # exactly 1 and the (most-frequent, ties-to-smallest) argmax
    # degenerates to min(neighbor) per node — one hash agg replaces
    # the init distinct + round-1 join + two aggregations. Every node
    # appears as src (d is symmetric), so the node set is identical;
    # output hash-identical, interleaved A/B at sf0.1 best-of-3:
    # 4.83 -> 4.13 s (and cold first-run 18.6 -> 4.1 s — the round-1
    # join/agg codegen dominated cold runs).
    labels = d.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("lbl")
    )
    for _ in range(LP_ITERS - 1):
        # labels stays un-hinted: AQE broadcasts the O(|V|) frame
        # while it fits and falls back to a shuffle join when it
        # doesn't (at 100 TB the right layout is labels and edges
        # co-partitioned on node id, not a broadcast)
        votes = (
            d.join(labels, d.dst == labels.node)
            .groupBy(d.src, "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.col("src").alias("node"), "lbl", "c")
        )
        # per-node argmax as a struct-max HASH agg, not a sort
        # window: max on (count, -label) = most frequent, ties to
        # the smallest label — map-side partials absorb hub skew,
        # and nothing sorts the O(Σ deg-distinct-labels) votes frame
        labels = votes.groupBy("node").agg(
            F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl")))
            .alias("m")
        ).select("node", (-F.col("m.nl")).alias("lbl"))
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("min_member"),
        F.max("node").alias("max_member"),
    )


QUERIES["q_graph_labelprop"] = q_graph_labelprop

_LP_DIR = (
    "SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e"
)


def _lp_round(i: int) -> str:
    return (
        f"v{i} AS (SELECT d.src AS node, l.lbl, count(*)::BIGINT AS c "
        f"FROM d JOIN l{i - 1} l ON d.dst = l.node GROUP BY d.src, l.lbl), "
        f"l{i} AS (SELECT node, lbl FROM (SELECT node, lbl, row_number() "
        "OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn "
        f"FROM v{i}) WHERE rn = 1)"
    )


ORACLE["q_graph_labelprop"] = (
    "WITH e AS (" + _EDGES + "), "
    "d AS (" + _LP_DIR + "), "
    "l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM d), "
    + ", ".join(_lp_round(i) for i in range(1, LP_ITERS + 1))
    + f" SELECT lbl AS community, count(*)::BIGINT AS n_members, "
    f"min(node) AS min_member, max(node) AS max_member "
    f"FROM l{LP_ITERS} GROUP BY lbl"
)


KCORE_K = 3
KCORE_PEELS = 4


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling over the co-purchase graph: 4 rounds
    of "drop every node with degree < 3, then recompute" — the
    densest-substructure filter (spam rings, core communities)
    whose full fixpoint is the classic iterate-until-stable job;
    the BOUNDED form is the certifiable contract (both engines run
    exactly KCORE_PEELS peels — at the fixture's diameter the
    result IS the true 3-core, but the stated semantics are the
    bounded peel so the oracle never chases a data-dependent round
    count). Output: surviving nodes with their within-subgraph
    degree after the last peel.

    Per round: one degree agg + two semi-joins (edges keep both
    endpoints). The edge frame is eagerly localCheckpoint-ed per
    round — it appears three times in the next round's lineage
    (degree agg + both endpoint filters), the exact 3^rounds plan
    blowup q_geo_dbscan's loop hit (SCALE.md lesson; measured there:
    21-min wedge → 4 s). At 100 TB each round shuffles the shrinking
    edge set on node id; peeling converges geometrically on real
    graphs."""
    e = _edges(spark, sf_dir)
    E = e.select("a", "b").localCheckpoint()
    for _ in range(KCORE_PEELS):
        deg = (
            E.select(F.col("a").alias("node"))
            .unionAll(E.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.where(F.col("degree") >= KCORE_K).select("node")
        E = (
            E.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint()
        )
    return (
        E.select(F.col("a").alias("node"))
        .unionAll(E.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


QUERIES["q_graph_kcore"] = q_graph_kcore


def _kcore_round(i: int) -> str:
    # AS MATERIALIZED: DuckDB inlines plain CTEs per REFERENCE, and
    # e{i-1} appears three times per round (degree agg + both
    # endpoint joins) — the 3^rounds blowup the Spark side's
    # localCheckpoint prevents; materializing is the oracle-side twin
    return (
        f"d{i} AS MATERIALIZED (SELECT node, count(*)::BIGINT AS degree FROM "
        f"(SELECT a AS node FROM e{i - 1} UNION ALL SELECT b FROM e{i - 1}) "
        "GROUP BY node), "
        f"k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE degree >= {KCORE_K}), "
        f"e{i} AS MATERIALIZED (SELECT e{i - 1}.a, e{i - 1}.b FROM e{i - 1} "
        f"JOIN k{i} ka ON e{i - 1}.a = ka.node "
        f"JOIN k{i} kb ON e{i - 1}.b = kb.node)"
    )


ORACLE["q_graph_kcore"] = (
    "WITH e0 AS MATERIALIZED (" + _EDGES + "), "
    + ", ".join(_kcore_round(i) for i in range(1, KCORE_PEELS + 1))
    + f" SELECT node, count(*)::BIGINT AS degree FROM "
    f"(SELECT a AS node FROM e{KCORE_PEELS} "
    f"UNION ALL SELECT b FROM e{KCORE_PEELS}) GROUP BY node"
)


BFS_HOPS = 3
#: seed set: the lowest part ids (deterministic, non-empty at every sf).
BFS_SEEDS = 5


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS over the co-purchase graph: minimum
    hop distance from the seed set (parts with id < BFS_SEEDS) for
    every node within BFS_HOPS hops — the neighborhood-expansion
    primitive behind "related items within k hops" and blast-radius
    queries. Bounded hops are the certifiable contract (like
    q_graph_kcore's bounded peels): both engines run exactly 3
    expansion rounds, and distances are small integers with min()
    the only combiner — no float, no tie ambiguity.

    Per round: one equi-join of the DELTA frontier (only the nodes
    first discovered last round, never the whole distance frame —
    the r12 verdict's full-frame re-expansion fix) against the
    directed edge list, then a visited-set anti-join so already
    settled nodes are neither re-expanded nor re-emitted. BFS layers
    guarantee a node anti-join-surviving at hop r has true distance
    r, so no min-combiner is needed and the output is identical to
    the full re-expansion. Work per round is |frontier ∂|·deg, and
    the frontier SHRINKS once the neighborhood saturates — on
    high-diameter graphs the full-frame form re-joined every settled
    node every round. Frames are localCheckpoint-ed per round (each
    feeds two consumers — the dbscan 3^rounds lesson again). At
    100 TB frontier expansion is the standard co-partitioned join on
    node id."""
    e = _edges(spark, sf_dir)
    d = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).localCheckpoint()
    dist = (
        d.select(F.col("src").alias("node"))
        .distinct()
        .where(F.col("node") < BFS_SEEDS)
        .select("node", F.lit(0).alias("dist"))
        .localCheckpoint()
    )
    frontier = dist.select(F.col("node").alias("src"))
    for hop in range(1, BFS_HOPS + 1):
        reached = (
            d.join(frontier, "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"))
            .localCheckpoint()
        )
        # no re-checkpoint of the union (r16 optimization pass): dist
        # is a flat unionByName of ALREADY-checkpointed per-hop
        # frames — depth grows by one Union node per hop, not by
        # self-referencing subtrees, so re-materializing it bought a
        # job per hop for nothing
        dist = dist.unionByName(reached)
        frontier = reached.select(F.col("node").alias("src"))
    return dist


QUERIES["q_graph_bfs"] = q_graph_bfs


def _bfs_round(i: int) -> str:
    return (
        f"x{i} AS MATERIALIZED (SELECT node, min(dist)::INT AS dist FROM ("
        f"SELECT node, dist FROM x{i - 1} UNION ALL "
        f"SELECT d.dst AS node, x{i - 1}.dist + 1 AS dist "
        f"FROM d JOIN x{i - 1} ON d.src = x{i - 1}.node) GROUP BY node)"
    )


ORACLE["q_graph_bfs"] = (
    "WITH e AS MATERIALIZED (" + _EDGES + "), "
    "d AS MATERIALIZED (SELECT a AS src, b AS dst FROM e "
    "UNION ALL SELECT b, a FROM e), "
    f"x0 AS (SELECT DISTINCT src AS node, 0 AS dist FROM d "
    f"WHERE src < {BFS_SEEDS}), "
    + ", ".join(_bfs_round(i) for i in range(1, BFS_HOPS + 1))
    + f" SELECT node, dist FROM x{BFS_HOPS}"
)


#: PPR: damping 85/100 (as PageRank), seeds = top-_PPR_SEEDS parts
#: by degree in the co-order graph, _PPR_ITERS unrolled rounds.
_PPR_SEEDS = 4
_PPR_ITERS = 3


def _local_ppr(t: "pyarrow.Table") -> "pyarrow.Table":
    """``q_graph_ppr``'s rounds and top-20 report over the undirected
    edge table ``t``, computed on the driver in NumPy with the Spark
    rounds' exact int64 floor divisions.

    A round's rank set is what the Spark rounds' full join keeps:
    every node some ranked node reaches, plus the seeds — a reached
    node whose contributions floor to 0 still ranks, at 0."""
    import numpy as np
    import pyarrow as pa

    typ = t.schema.field(0).type
    ids, src, dst = _compact(t)
    n = len(ids)
    deg = np.bincount(src, minlength=n)
    seed = np.zeros(n, bool)
    seed[np.argsort(-deg, kind="stable")[:_PPR_SEEDS]] = True
    seed_base = PR_SCALE // _PPR_SEEDS
    teleport = (15 * seed_base) // 100
    ranked, r = seed, np.where(seed, seed_base, 0)
    for _ in range(_PPR_ITERS):
        live = ranked[src]
        s, d = src[live], dst[live]
        spread = np.zeros(n, np.int64)
        np.add.at(spread, d, r[s] // deg[s])
        reached = np.zeros(n, bool)
        reached[d] = True
        r = np.where(reached, 85 * spread // 100, 0) + np.where(seed, teleport, 0)
        ranked = reached | seed
    nodes = np.flatnonzero(ranked)
    top = nodes[np.lexsort((nodes, -r[nodes]))][:20]
    return pa.table(
        {"node": pa.array(ids[top], typ), "rank_fp": pa.array(r[top], pa.int64())}
    )


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6; the seeded
    variant behind related-item / account-suggestion features) over
    the lineitem co-order part graph: teleport mass returns to a
    SEED SET — here the ``_PPR_SEEDS`` highest-degree parts
    (degree-desc, partkey-asc tie-break) — instead of spreading
    uniformly, so rank measures proximity to the seeds. Same
    integer fixed-point contract as ``q_graph_pagerank``
    (PR_SCALE = 1e12, all transfers BIGINT floor-div — bit-exact
    cross-engine, no float convergence drift), ``_PPR_ITERS``
    unrolled rounds, top-20 by rank for a bounded report.

    Two regimes, one answer, picked by :func:`_checkpoint_pairs` on
    the checkpointed undirected edge set:
    - At most ``_LOCAL_MAX_PAIRS`` edges (every fixture; sf0.1 has
      ~1.2M): the edges are collected through Arrow and
      :func:`_local_ppr` runs the rounds and the top-k in NumPy.
    - Above the gate (the scale path): per round one equi-join
      (ranks are (node, BIGINT) rows — never adjacency lists) + one
      hash agg; the seed frame joins un-hinted (Spark cannot build
      a broadcast side for the FULL outer teleport join). The
      rounds stay lazy and run as one job with the top-k.

    Oracle rounds are MATERIALIZED CTEs (the k-core sf1 lesson:
    DuckDB inlines plain CTEs per reference — 3^rounds blowup)."""
    E, local = _checkpoint_pairs(_edges(spark, sf_dir))
    if local is not None:
        schema = T.StructType(
            [
                T.StructField("node", E.schema["a"].dataType),
                T.StructField("rank_fp", T.LongType(), False),
            ]
        )
        return spark.createDataFrame(_local_ppr(local), schema)
    # sym feeds the degree agg, the seed top-k AND every round's
    # join: all of them re-read the checkpointed edge set
    sym = E.union(E.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    # loop-invariant frames materialized ONCE (r16 optimization pass,
    # guide §2.4): seeds (4 rows) and the degree-annotated edge list
    # esrc used to be lazy, so EVERY round's contrib join re-ran the
    # degree agg + edge join (and every round's teleport join
    # re-ran the degree top-k) against the checkpointed sym — 3x the
    # work for identical results.
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("a"))
        .limit(_PPR_SEEDS)
        .select(F.col("a").alias("node"))
        .localCheckpoint()
    )
    seed_base = PR_SCALE // _PPR_SEEDS
    # teleport vector: base mass only on seeds
    ranks = seeds.select("node", F.lit(seed_base).alias("r"))
    esrc = (
        sym.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .join(deg.select(F.col("a").alias("src"), "deg"), "src")
        .localCheckpoint()
    )
    teleport = (15 * seed_base) // 100
    # Rounds stay LAZY (r17 optimization pass — settling the r16
    # verdict's unconfirmed per-round-checkpoint win): each round's
    # ranks frame feeds exactly ONE consumer (the next round's
    # contrib join), so this is a linear chain — no self-referencing
    # subtree, no 2^rounds plan blowup (the k-core/dbscan class does
    # NOT apply), and checkpointing bought 3 extra job launches +
    # materializations for nothing. Cold-JVM interleaved A/B at
    # sf0.1 (best-of-3): ckpt-per-round 5.88 s vs lazy 5.33 s,
    # identical output hash; all _PPR_ITERS rounds + top-k now run
    # as one job over the checkpointed seeds/esrc invariants.
    for _ in range(_PPR_ITERS):
        contrib = esrc.join(ranks, esrc["src"] == ranks["node"]).select(
            "dst", F.expr("r div deg").alias("c")
        )
        spread = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.expr("85 * sum(c) div 100").alias("s")
        )
        ranks = (
            spread.join(seeds.withColumn("t", F.lit(teleport)), "node", "full")
            .select(
                "node",
                (
                    F.coalesce(F.col("s"), F.lit(0))
                    + F.coalesce(F.col("t"), F.lit(0))
                ).alias("r"),
            )
        )
    return ranks.orderBy(F.desc("r"), F.asc("node")).limit(20).select(
        "node", F.col("r").alias("rank_fp")
    )


QUERIES["q_graph_ppr"] = q_graph_ppr


def _ppr_iter(prev: str, out: str) -> str:
    seed_base = PR_SCALE // _PPR_SEEDS
    teleport = (15 * seed_base) // 100
    return (
        f"{out} AS MATERIALIZED (SELECT node, "
        "coalesce(s, 0) + coalesce(t, 0) AS r FROM "
        "(SELECT e.dst AS node, (85 * (sum(p.r // d.deg))::BIGINT) // 100 AS s "
        f" FROM sym e JOIN deg d ON e.src = d.src "
        f" JOIN {prev} p ON p.node = e.src GROUP BY e.dst) sp "
        f"FULL JOIN (SELECT node, {teleport}::BIGINT AS t FROM seeds) se "
        "USING (node))"
    )


ORACLE["q_graph_ppr"] = (
    "WITH e AS MATERIALIZED (" + _EDGES + "), "
    "sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e "
    "UNION ALL SELECT b, a FROM e), "
    "deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg "
    "FROM sym GROUP BY src), "
    "seeds AS MATERIALIZED (SELECT src AS node FROM deg "
    f"ORDER BY deg DESC, src ASC LIMIT {_PPR_SEEDS}), "
    f"it0 AS (SELECT node, {PR_SCALE // _PPR_SEEDS}::BIGINT AS r FROM seeds), "
    + ", ".join(_ppr_iter(f"it{i}", f"it{i+1}") for i in range(_PPR_ITERS))
    + f" SELECT node, r AS rank_fp FROM it{_PPR_ITERS} "
    "ORDER BY r DESC, node ASC LIMIT 20"
)


#: HITS fixed-point scale. Ceiling: per-round raw scores are
#: ≤ max_degree · SCALE and the normalization multiplies by SCALE
#: before the integer divide, so max_degree · SCALE² must stay
#: < 2^63 — at 10^6 that is ~9.2e6 max degree (the fixture's is
#: ~10³); a fatter graph lowers the scale, it never overflows
#: silently (Spark long overflow raises under ANSI).
_HITS_SCALE = 10**6
_HITS_ITERS = 3


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, JACM) over the
    customer→supplier purchase graph (the bipartite frame of
    q_graph_jaccard): hubs are customers whose purchases concentrate
    on high-authority suppliers, authorities are suppliers bought by
    strong hubs — mutual reinforcement, ``_HITS_ITERS`` unrolled
    rounds. Where PageRank needs damping to exist on this shape,
    HITS normalizes per round: scores renormalize by the MAX (an
    integer-exact stand-in for the usual L2 norm — same argmax
    ordering per round, no cross-engine sqrt), all transfers BIGINT
    floor-div (the q_graph_pagerank fixed-point contract). Top 10
    per side by (score, id) for a bounded report.

    Scale: per round two (node, BIGINT) equi-joins + hash aggs and
    two 1-row max aggs — rank rows only, never adjacency lists;
    the final top-k compiles to TakeOrderedAndProject."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
        .localCheckpoint()
    )
    hubs = edges.select("cust").distinct().withColumn(
        "h", F.lit(_HITS_SCALE)
    )
    for _ in range(_HITS_ITERS):
        # each raw score frame feeds BOTH its 1-row max agg and the
        # next transfer join; checkpointing it (tiny (node, BIGINT)
        # rows) makes those two consumers re-READS instead of
        # re-JOINS — lazily, each round used to re-run the edge join
        # chain up to 3x (r16 optimization pass, guide §2.4)
        a_raw = (
            edges.join(hubs, "cust")
            .groupBy("supp")
            .agg(F.sum("h").alias("ar"))
            .localCheckpoint()
        )
        a_max = a_raw.agg(F.max("ar").alias("am"))
        auths = a_raw.crossJoin(F.broadcast(a_max)).select(
            "supp", F.expr(f"ar * {_HITS_SCALE} div am").alias("a")
        )
        h_raw = (
            edges.join(auths, "supp")
            .groupBy("cust")
            .agg(F.sum("a").alias("hr"))
            .localCheckpoint()
        )
        h_max = h_raw.agg(F.max("hr").alias("hm"))
        hubs = h_raw.crossJoin(F.broadcast(h_max)).select(
            "cust", F.expr(f"hr * {_HITS_SCALE} div hm").alias("h")
        )
    top_a = auths.orderBy(F.desc("a"), F.asc("supp")).limit(10).select(
        F.lit("authority").alias("kind"),
        F.col("supp").alias("node"),
        F.col("a").alias("score_fp"),
    )
    top_h = hubs.orderBy(F.desc("h"), F.asc("cust")).limit(10).select(
        F.lit("hub").alias("kind"),
        F.col("cust").alias("node"),
        F.col("h").alias("score_fp"),
    )
    return top_a.unionByName(top_h)


QUERIES["q_graph_hits"] = q_graph_hits


def _hits_round(h_prev: str, i: int) -> str:
    return (
        f"ar{i} AS MATERIALIZED (SELECT supp, sum(h)::BIGINT AS ar "
        f"FROM e JOIN {h_prev} USING (cust) GROUP BY supp), "
        f"a{i} AS MATERIALIZED (SELECT supp, "
        f"(ar * {_HITS_SCALE}) // (SELECT max(ar) FROM ar{i}) AS a "
        f"FROM ar{i}), "
        f"hr{i} AS MATERIALIZED (SELECT cust, sum(a)::BIGINT AS hr "
        f"FROM e JOIN a{i} USING (supp) GROUP BY cust), "
        f"h{i} AS MATERIALIZED (SELECT cust, "
        f"(hr * {_HITS_SCALE}) // (SELECT max(hr) FROM hr{i}) AS h "
        f"FROM hr{i})"
    )


ORACLE["q_graph_hits"] = (
    "WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, "
    "l_suppkey AS supp FROM orders JOIN lineitem "
    "ON o_orderkey = l_orderkey), "
    f"h0 AS (SELECT DISTINCT cust, {_HITS_SCALE}::BIGINT AS h FROM e), "
    + ", ".join(_hits_round(f"h{i}", i + 1) for i in range(_HITS_ITERS))
    + f" SELECT * FROM ("
    "SELECT 'authority' AS kind, supp AS node, a AS score_fp "
    f"FROM a{_HITS_ITERS} ORDER BY a DESC, supp ASC LIMIT 10) "
    "UNION ALL SELECT * FROM ("
    "SELECT 'hub' AS kind, cust AS node, h AS score_fp "
    f"FROM h{_HITS_ITERS} ORDER BY h DESC, cust ASC LIMIT 10)"
)
