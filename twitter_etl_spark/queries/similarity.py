"""Similarity search over embeddings (SURVEY.md §2.6).

The ``embeddings`` fixture is ``array<float>`` (dim 64). All exact
math casts to double element-wise and folds sequentially (Spark
``aggregate`` HOF ≡ DuckDB ``list_dot_product`` — same left-to-right
double accumulation), then rounds to 6 decimals with a unique
tie-break so rankings are deterministic cross-engine.

Scale paths:

- exact top-k: broadcast the (small) query set, single scan of the
  candidate corpus, per-query rank filter — no all-pairs shuffle;
- near-dup pairs: blocked on ``label`` (the blocking key stands in
  for an IVF/coarse-quantizer cell at 100 TB);
- ANN: ``BucketedRandomProjectionLSH`` — candidate generation via
  bucket join, refine within buckets only (rows-only query).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b) -> Column:
    """Sequential fold of the element products (matches DuckDB's
    list_dot_product accumulation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 per query vector (query set = vec_id < 5,
    candidates = the rest). Broadcast queries; candidates scanned
    once; per-query rank filter."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    # precompute norms once per vector (not once per pair): the
    # per-pair work drops to a single dot product
    e = e.withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
    )
    c = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "cand_id",
        F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "cand_id", "cos_sim", "rk")
    )


# Hot-block cap for the label-blocked near-dup join: a block of b
# vectors generates b*(b-1)/2 pairs, so one dominant label (a dead
# IVF cell, a junk cluster) turns the within-block join quadratic.
# Blocks above this size are excluded from exact pairing — their
# recall is delegated to the ANN path (q_sim_ann_lsh), whose bucket
# join never materializes a block product. Fixture max block is 218
# (sf0.1), far below the cap, so the default is semantics-neutral
# for the oracle.
MAX_BLOCK_SIZE = 4096

#: Salt factor for the within-cell pair join. Pair generation is
#: quadratic in cell size but its shuffle INPUT is tiny, so AQE's
#: byte-based coalescing serializes the dot-product stage (measured:
#: one task computing every pair at sf0.1 — 10 cells into 1
#: post-shuffle partition). Salting spreads each cell's pairs over
#: ``_PAIR_SALT`` keys: the a-side replicates x8 (bounded — cells are
#: already capped at MAX_BLOCK_SIZE), the b-side gets hash(vec_id)%8,
#: and both sides are repartitioned on (label, salt) with an EXPLICIT
#: partition count, which AQE treats as user-specified and never
#: coalesces. Same trick a 100 TB job needs for hot IVF cells.
_PAIR_SALT = 8


def neardup_dropped_labels(
    spark: SparkSession, sf_dir: str, max_block: int = MAX_BLOCK_SIZE
) -> DataFrame:
    """Diagnostic companion to :func:`q_sim_embedding_neardup`: the
    hot labels the block-size cap excludes, with their block size.
    Log this alongside the job; a non-empty result means those cells
    are served by the ANN path only."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.groupBy("label")
        .agg(F.count(F.lit(1)).alias("block_size"))
        .filter(F.col("block_size") > max_block)
    )


def q_sim_embedding_neardup(
    spark: SparkSession, sf_dir: str, max_block: int = MAX_BLOCK_SIZE
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (>= 0.35), blocked by
    label: the join is within-block only — the blocking key is the
    coarse cell an IVF index would give you at scale. Blocks larger
    than ``max_block`` are dropped before the pair join (quadratic
    bound; see :data:`MAX_BLOCK_SIZE`); block sizes are one tiny
    broadcast agg. The pair join itself is salted (:data:`_PAIR_SALT`)
    so the quadratic dot-product stage parallelizes: the a-side
    shuffles x8 (bounded by the cap), the b-side once — measured
    2.6 s -> 1.6 s at sf0.1 where the unsalted join ran on one
    AQE-coalesced partition."""
    e = _vec_state(table(spark, sf_dir, "embeddings"))
    return _pairs_from_state(e, max_block)


def _vec_state(embeddings: DataFrame) -> DataFrame:
    """(vec_id, label, v, norm) — the per-vector state frame the
    pair scan, the semantic-dedup rollup (rollup.py
    ``update_semdedup_rollup``) and the incremental probe all share:
    a pure function of the embedding row, so a re-absorbed vec_id
    dedups to the identical state row."""
    return embeddings.select(
        "vec_id", "label", _as_double("embedding").alias("v")
    ).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))


def _pairs_from_state(
    e: DataFrame,
    max_block: int = MAX_BLOCK_SIZE,
    b_side: DataFrame | None = None,
) -> DataFrame:
    """(vec_a, vec_b, label, cos_sim >= 0.35) within-cell pairs over
    a (vec_id, label, v, norm) state frame — the blocked, salted
    pair scan documented at :func:`q_sim_embedding_neardup`. The
    hot-cell cap counts the FULL state (over-cap cells drop before
    pairing). ``b_side`` (a vec_id frame) optionally restricts the
    RIGHT side of each pair: the incremental form pairs
    <full state, batch> instead of <full state, full state>, so the
    quadratic stage shrinks from |cell|² to |cell|·|cell ∩ batch| —
    history vectors never pair with each other again."""
    spark = e.sparkSession
    keep = (
        e.groupBy("label")
        .agg(F.count(F.lit(1)).alias("__bs"))
        .filter(F.col("__bs") <= max_block)
        .select("label")
    )
    e = e.join(F.broadcast(keep), "label")
    n_part = spark.sparkContext.defaultParallelism
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("v").alias("va"),
        F.col("norm").alias("na"),
    ).withColumn(
        # replicate a-side to every salt so each (a, b) pair meets
        # exactly once, at b's salt
        "salt",
        F.explode(F.sequence(F.lit(0), F.lit(_PAIR_SALT - 1))),
    )
    eb = e if b_side is None else e.join(b_side.select("vec_id"), "vec_id")
    b = eb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
    ).withColumn(
        "salt_b", F.pmod(F.xxhash64("vec_b"), F.lit(_PAIR_SALT)).cast("int")
    )
    # explicit-N repartition on the join keys: user-specified, so AQE
    # keeps the quadratic pair stage at full parallelism (see _PAIR_SALT)
    a = a.repartition(n_part, "label", "salt")
    b = b.repartition(n_part, "label_b", "salt_b")
    pairs = a.join(
        b,
        (a.label == b.label_b) & (a.salt == b.salt_b) & (a.vec_a < b.vec_b),
    )
    return (
        pairs.select(
            "vec_a",
            "vec_b",
            "label",
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.35)
    )


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-projection LSH
    (rows-only: hash family is engine-specific). Candidates come
    from bucket joins; the exact twin q_sim_cosine_topk pins
    correctness, the bounded-recall pin lives in
    tests/test_mllib_twins.py, and — the self-auditing-sketch
    pattern (r10 verdict stretch) — every emitted row carries
    ``recall_at_10``: its query's recall of the exact cosine top-10,
    computed against the exact subplan INSIDE this query, so even
    the driver's rows-only check records a quantitative quality
    signal. The exact subplan is the fixture-scale audit stage
    (broadcast 5 queries x one candidate scan); production drops it
    and keeps the bucket join — the same audited-error discipline as
    q_ts_sliding_distinct_kmv's n_exact column."""
    from pyspark.sql import Window

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(_as_double("embedding")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.5,
        numHashTables=4,
        seed=42,
    )
    model = lsh.fit(e)
    q = e.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    c = e.filter(F.col("vec_id") >= 5)
    pairs = model.approxSimilarityJoin(c, q, 2.0, distCol="l2_dist")
    out = pairs.select(
        F.col("datasetB.query_id").alias("query_id"),
        F.col("datasetA.vec_id").alias("cand_id"),
        F.round(F.col("l2_dist"), 6).alias("l2_dist"),
    )
    # exact cosine top-10 subplan (the q_sim_cosine_topk shape)
    exact = q_sim_cosine_topk(spark, sf_dir).select(
        "query_id", F.col("cand_id").alias("exact_cand")
    )
    lw = Window.partitionBy("query_id").orderBy("l2_dist", "cand_id")
    lsh_top = out.withColumn("rk", F.row_number().over(lw)).filter(
        F.col("rk") <= 10
    )
    recall = (
        lsh_top.join(
            exact,
            (lsh_top["query_id"] == exact["query_id"])
            & (lsh_top["cand_id"] == exact["exact_cand"]),
            "left",
        )
        .groupBy(lsh_top["query_id"].alias("query_id"))
        .agg((F.count("exact_cand") / F.lit(10.0)).alias("recall_at_10"))
    )
    return out.join(F.broadcast(recall), "query_id")


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup survivor resolution (Abbas et
    al. 2023, arXiv:2303.09540 — public): a vector is DROPPED iff
    some lower-id vector in its coarse cell is cosine-similar
    (>= 0.35) — including already-dropped ones, so the drop set is a
    SUPERSET of true greedy keep-first's (which scans survivors
    only; on a non-transitive chain A~B, B~C, !A~C greedy keeps C,
    this drops C). Single pass, deterministic, no iterative
    clustering; the id-ordered keep-first spirit of the reference's
    text dedup (main.R:105) lifted to embedding space. Candidate pairs reuse the blocked scan of
    :func:`q_sim_embedding_neardup` (within-cell joins only, hot
    cells capped — never all-pairs); vectors in over-cap cells pass
    through as kept, same recall hand-off posture as the shingle df
    cap. The dropped set joins back on vec_id WITHOUT a broadcast
    hint — it can approach corpus size at 100 TB.

    Output: every vector with ``kept`` 1/0 (int for cross-engine
    hash stability) — the keep-list a curation job would apply —
    plus ``judged`` 1/0 (r13 verdict #2): 0 marks a vector whose
    cell was OVER the hot-cell cap, i.e. it passed through unjudged
    (kept=1 by hand-off, not by similarity). Past ~sf2 occupancy the
    fixed grid degrades to judged=0 everywhere — that cliff is now
    observable output a consumer can alert on instead of silently
    getting no dedup. The occupancy-adaptive grid
    (:func:`q_dedup_semantic_adaptive`, measured 0.68 decade slope)
    is the production spelling; this fixed-cell form is the
    oracle-simple baseline."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    judged = (
        e.groupBy("label")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .select(
            "label",
            F.when(F.col("__occ") <= MAX_BLOCK_SIZE, 1)
            .otherwise(0)
            .alias("judged"),
        )
    )
    dropped = (
        q_sim_embedding_neardup(spark, sf_dir)
        .select(F.col("vec_b").alias("d_id"))
        .distinct()
    )
    return (
        e.join(F.broadcast(judged), "label")
        .join(dropped, e.vec_id == F.col("d_id"), "left")
        .select(
            "vec_id",
            "label",
            F.when(F.col("d_id").isNull(), 1).otherwise(0).alias("kept"),
            "judged",
        )
    )


def q_dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: a NEW embedding batch judged against
    the existing corpus WITHOUT re-pairing history — the embedding
    twin of ``q_dedup_minhash_incremental`` (r11 verdict #3). Split
    = md5 hash buckets of vec_id: [0, 80) is the absorbed corpus,
    [80, 100) the incoming batch. A batch vector is DROPPED iff some
    lower-id vector in its coarse cell (corpus OR batch — the
    q_dedup_semantic drop-superset rule, unchanged) is
    cosine-similar >= 0.35; batch vectors in over-cap cells pass
    through kept, the same recall hand-off as the one-shot op.
    Because the drop predicate is pairwise (never reads kept
    status), the answer is EXACTLY ``q_dedup_semantic`` over the
    full table restricted to batch rows — the oracle certifies that
    equivalence cross-engine.

    Scale: the implementation routes the pair scan through
    :func:`_pairs_from_state` with the b-side restricted to the
    batch, so the quadratic stage is |cell|·|cell ∩ batch| instead
    of |cell|² — history never pairs with history. Operationally the
    corpus side is the persisted (vec_id, label, v, norm) state
    (rollup.py ``update_semdedup_rollup`` / ``probe_semdedup_rollup``;
    a pytest pins this query row-identical to probe-after-absorb on
    the same split), so batch embeddings are the only vectors read
    fresh."""
    from .sampling import hash_bucket

    e = _vec_state(table(spark, sf_dir, "embeddings"))
    bk = hash_bucket(F.col("vec_id").cast("string"))
    batch = e.where(bk >= 80)
    dropped = (
        _pairs_from_state(e, b_side=batch.select("vec_id"))
        .select(F.col("vec_b").alias("d_id"))
        .distinct()
    )
    return batch.join(dropped, batch.vec_id == F.col("d_id"), "left").select(
        "vec_id",
        "label",
        F.when(F.col("d_id").isNull(), 1).otherwise(0).alias("kept"),
    )


_KMEANS_K = 8
_KMEANS_ITERS = 3


def _kmeans_assign(e: DataFrame, centroids: list) -> DataFrame:
    """Nearest-centroid assignment as pure expressions: the K
    centroids are inlined as array literals (K x dim doubles — the
    broadcast-a-tiny-side pattern without even a join), squared
    distance per centroid via zip_with fold, argmin via array_min
    over (d2, cid) structs (struct compare: distance first, then
    lower cid wins ties — deterministic)."""
    structs = []
    for cid, vec in centroids:
        c = F.array(*[F.lit(float(x)) for x in vec])
        d2 = F.aggregate(
            F.zip_with(F.col("v"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        structs.append(F.struct(d2.alias("d2"), F.lit(cid).alias("cid")))
    best = F.array_min(F.array(*structs))
    return e.withColumn("cluster", best["cid"]).withColumn("d2", best["d2"])


def train_kmeans(e: DataFrame, k: int, iters: int) -> list:
    """Lloyd's k-means over ``e`` (columns vec_id, v: array<double>)
    — deterministic init (the k lowest-vec_id vectors), per-round
    dataflow documented at :func:`q_sim_kmeans`. Returns the trained
    ``[(cid, vector), ...]`` list — consumed by the query below and
    by the materialized IVF index builder (``index.build_ivf_index``)."""
    init = e.orderBy("vec_id").limit(k).collect()
    centroids = [(i, list(r.v)) for i, r in enumerate(init)]
    for _ in range(iters):
        assigned = _kmeans_assign(e, centroids)
        upd = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("c"))
            .collect()
        )
        by_cluster: dict = {}
        for row in upd:
            by_cluster.setdefault(row.cluster, {})[row.pos] = row.c
        centroids = [
            (
                cid,
                [by_cluster[cid][p] for p in range(len(old))]
                if cid in by_cluster
                else old,
            )
            for cid, old in centroids
        ]
    return centroids


def q_sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (K=8, 3 iterations,
    deterministic init = the K lowest-vec_id vectors) — the
    coarse-quantizer TRAINING step whose output feeds the IVF index
    (`q_sim_ann_ivf` assumes trained centroids; this trains them).

    Per round: (1) assignment is a single scan with the centroids
    inlined as literals — no join, no shuffle; (2) the update is one
    posexplode + hash-agg keyed on (cluster, pos) — K x dim groups,
    map-side partial sums absorb any cluster-size skew; (3) the new
    centroids (K x dim doubles, ~4 KB) sync through the driver —
    the same barrier MLlib's KMeans performs via treeAggregate.
    Clusters that lose all members keep their previous centroid.
    Rows-only — not because SQL can't unroll 3 rounds, but because
    cluster ASSIGNMENT is a discrete argmin over floats: a 1-ulp
    cross-engine difference in a centroid mean can flip a boundary
    point's cell and cascade, the exact flake class SURVEY §5.3
    bans from oracles;
    exactness is pinned by a NumPy step-for-step replica in
    tests/test_similarity_multimodal.py.

    Output: one row per cluster — member count, centroid L2 norm,
    and mean squared distance (rounded; cluster sizes and the SSE
    trend are what a curation job consumes)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    centroids = train_kmeans(e, _KMEANS_K, _KMEANS_ITERS)
    final = _kmeans_assign(e, centroids)
    norms = {
        cid: sum(x * x for x in vec) ** 0.5 for cid, vec in centroids
    }
    norm_expr = F.element_at(
        F.array(*[F.lit(float(norms[c])) for c, _ in centroids]),
        F.col("cluster") + 1,
    )
    return (
        final.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("d2"), 4).alias("mean_d2"),
        )
        .select(
            "cluster",
            "n_vecs",
            "mean_d2",
            F.round(norm_expr, 4).alias("centroid_norm"),
        )
    )


_PQ_M = 8  # subspaces (64-dim fixture -> 8 dims per subspace)
_PQ_KSUB = 16  # centroids per subspace codebook
_PQ_ITERS = 2


def train_pq_codebook(
    e: DataFrame, dim: int, m: int = _PQ_M, ksub: int = _PQ_KSUB,
    iters: int = _PQ_ITERS,
) -> list:
    """Per-subspace k-means codebook (Jégou et al. 2011's product
    quantizer, trained — vs the scalar quantizer that
    ``q_sim_ann_ivfpq`` certifies): split each vector into ``m``
    contiguous subvectors and train an independent ``ksub``-centroid
    Lloyd quantizer per subspace with the exact ``q_sim_kmeans``
    machinery (deterministic lowest-vec_id init, argmin lowest-cid
    tie-break, empty cluster keeps its centroid). Returns
    ``book[j][c]`` = centroid c of subspace j (dim/m doubles).

    Scale: all m subspaces train JOINTLY — one scan per Lloyd round
    over a subspace-exploded frame (row = (j, subvector)). That is
    1 init + ``iters`` jobs total instead of m·(1+iters) sequential
    driver-synced jobs (measured at sf0.01: 20.2 s -> ~2 s; the cost
    was pure job-launch latency, not data). Assignment runs in ONE
    Arrow-batched NumPy pass (``_pq_assign_arrow``) replicating the
    JVM fold semantics exactly — the r16-era alternative inlined the
    full m x ksub codebook as nested array literals with a
    zip_with/aggregate fold per centroid, and janino codegen of that
    ~m·ksub-expression tree dominated the round (guide §4.2: hand
    whole batches to vectorized native code instead of growing the
    expression tree). The update is one hash-agg keyed on
    (j, cluster, pos) — m·ksub·d_sub groups, map-side partials
    absorb skew; the synced state is still just m·ksub·(dim/m)
    doubles regardless of corpus size (production additionally
    trains on a bounded sample)."""
    d_sub = dim // m
    # init: the ksub lowest-vec_id vectors, sliced per subspace —
    # identical to running train_kmeans' init on each subspace frame
    init = e.orderBy("vec_id").limit(ksub).collect()
    book = [
        [list(r.v[j * d_sub : (j + 1) * d_sub]) for r in init]
        for j in range(m)
    ]
    sub = e.select(
        F.posexplode(
            F.array(*[F.slice("v", j * d_sub + 1, d_sub) for j in range(m)])
        ).alias("j", "sv")
    )
    for _ in range(iters):
        upd = (
            _pq_assign_arrow(sub, book)
            .select("j", "cluster", F.posexplode("sv").alias("pos", "val"))
            .groupBy("j", "cluster", "pos")
            .agg(F.avg("val").alias("c"))
            .collect()
        )
        by_jc: dict = {}
        for row in upd:
            by_jc.setdefault((row.j, row.cluster), {})[row.pos] = row.c
        book = [
            [
                [by_jc[(j, ci)][p] for p in range(d_sub)]
                if (j, ci) in by_jc
                else old  # empty cluster keeps its previous centroid
                for ci, old in enumerate(book[j])
            ]
            for j in range(m)
        ]
    return book


def _np_book(book: list):
    import numpy as np

    return np.asarray(book, dtype=np.float64)  # (m, ksub, d_sub)


def _pq_fold_d2(S, C):
    """Squared distances of subvector rows ``S`` (n x d) to centroids
    ``C`` (k x d) with the JVM fold's exact float semantics: per
    element d = x - y and d * d (an explicit product, not ``** 2``,
    so the JVM's (x - y)·(x - y) holds by construction), then a
    left-to-right accumulation from 0.0 over positions
    (``aggregate(zip_with(...), 0.0, acc + x)``).
    Element-wise NumPy add/sub/mul are the same IEEE-754 ops in the
    same order, so results are bit-identical to the expression form
    (pinned by tests/test_similarity_multimodal.py's replica and the
    index/query cross-check in tests/test_retrieval.py)."""
    import numpy as np

    d = S[:, None, :] - C[None, :, :]
    sq = d * d
    acc = np.zeros(sq.shape[:2])
    for p in range(sq.shape[2]):
        acc += sq[:, :, p]
    return acc  # (n, k)


def _pq_assign_arrow(sub: DataFrame, book: list) -> DataFrame:
    """Add the argmin-codebook ``cluster`` column to the training
    frame (j, sv) via ``mapInArrow`` (guide §4.2/§4.3): one
    vectorized NumPy pass per batch instead of a ksub-struct
    zip_with/aggregate expression tree whose janino compilation
    dominated training wall-time. Ties go to the lowest cid —
    ``np.argmin`` returns the first minimum, matching the
    struct-min rule — and distances reuse the exact JVM fold
    semantics (``_pq_fold_d2``), so assignments are bit-identical."""
    B = _np_book(book)

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            j = b.column(0)
            sv = b.column(1)
            J = np.asarray(j, dtype=np.int64)
            SV = np.asarray(sv.flatten(), dtype=np.float64).reshape(
                b.num_rows, B.shape[2]
            )
            # gather each row's own subspace codebook, then the exact
            # fold: sq elementwise, accumulate positions left-to-right
            C = B[J]  # (n, ksub, d_sub)
            d = SV[:, None, :] - C
            sq = d * d
            acc = np.zeros(sq.shape[:2])
            for p in range(sq.shape[2]):
                acc += sq[:, :, p]
            cl = acc.argmin(axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [j, pa.array(cl, type=pa.int32()), sv],
                names=["j", "cluster", "sv"],
            )

    return sub.mapInArrow(assign, "j int, cluster int, sv array<double>")


def _pq_encode_arrow(df: DataFrame, book: list, id_col: str, vec_col: str) -> DataFrame:
    """Codes + reconstruction + reconstruction-norm for every vector
    in ``df`` (id_col, vec_col) in ONE Arrow-batched NumPy pass
    (guide §4.2: let Spark do distribution, hand whole batches to
    native code). Replaces the r16-era column-expression form whose
    plan embedded the full m x ksub codebook as literals twice (codes
    + reconstruct) — profiled: janino codegen of those literal trees,
    not data, dominated the sidecar. Float semantics are replicated
    exactly (``_pq_fold_d2`` fold order, argmin-lowest-cid ties,
    rnorm as the same left-to-right self-dot fold), so codes, rec
    and rnorm are bit-identical to the expression form."""
    B = _np_book(book)
    m, ksub, d_sub = B.shape
    dim = m * d_sub
    id_type = dict(df.dtypes)[id_col]

    def encode(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0)
            v = b.column(1)
            V = np.asarray(v.flatten(), dtype=np.float64).reshape(n, dim)
            codes = np.empty((n, m), dtype=np.int32)
            rec = np.empty((n, dim), dtype=np.float64)
            for j in range(m):
                d2 = _pq_fold_d2(V[:, j * d_sub : (j + 1) * d_sub], B[j])
                cj = d2.argmin(axis=1)
                codes[:, j] = cj
                rec[:, j * d_sub : (j + 1) * d_sub] = B[j][cj]
            rn = np.zeros(n)
            for p in range(dim):
                rn += rec[:, p] * rec[:, p]
            rn = np.sqrt(rn)
            off32 = pa.array(
                np.arange(0, (n + 1) * m, m, dtype=np.int32)
            )
            off64 = pa.array(
                np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    v,
                    pa.ListArray.from_arrays(
                        off32, pa.array(codes.ravel(), type=pa.int32())
                    ),
                    pa.ListArray.from_arrays(
                        off64, pa.array(rec.ravel(), type=pa.float64())
                    ),
                    pa.array(rn, type=pa.float64()),
                ],
                names=[id_col, vec_col, "codes", "rec", "rnorm"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        encode,
        f"{id_col} {id_type}, {vec_col} array<double>, "
        "codes array<int>, rec array<double>, rnorm double",
    )


def _pq_codes(book: list) -> Column:
    """array<int> of m subspace code assignments for a ``v`` column
    — per subspace, argmin squared distance over the codebook, ties
    to the lowest code (the _kmeans_assign struct-min rule).

    Column-expression form, kept for the materialized index build
    (index.py), where the frame carries extra columns and runs once
    per index build; the hot query path uses ``_pq_encode_arrow``,
    which is bit-identical (tests/test_retrieval.py cross-checks
    index codes against the query's Arrow codes)."""
    d_sub = len(book[0][0])
    cols = []
    for j, cents in enumerate(book):
        sub = F.slice("v", j * d_sub + 1, d_sub)
        structs = []
        for ci, cvec in enumerate(cents):
            c = F.array(*[F.lit(float(x)) for x in cvec])
            d2 = F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            structs.append(F.struct(d2.alias("d2"), F.lit(ci).alias("cid")))
        cols.append(F.array_min(F.array(*structs))["cid"])
    return F.array(*cols)


def q_sim_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-codebook product quantization ANN (r11 verdict #5) —
    the production sibling of ``q_sim_ann_ivfpq``'s certified scalar
    quantizer: m=8 per-subspace k-means codebooks (ksub=16), ADC
    scoring of every query (vec_id < 5) against candidates' DECODED
    vectors, shortlist of 100 by approximate cosine, exact refine to
    the top-10. Output carries both scores — the audited-error
    column pattern (``pq_score`` approx, ``cos_sim`` exact). The
    shortlist is deeper than the scalar form's 30 BY MEASUREMENT:
    at 4-bit codes (8 codes/vector vs 64 int8s — 8x more compression)
    on this near-random fixture the ADC error is ~0.08/row, and
    recall@10 is 0.58 at shortlist 30 vs 0.90 at 100 (SCALE.md) —
    the compression/shortlist trade every PQ deployment tunes.

    Rows-only for the same reason as ``q_sim_kmeans``: the codebook
    is a float argmin fixpoint — a 1-ulp cross-engine centroid
    difference flips boundary codes, the flake class SURVEY §5.3
    bans from oracles. Exactness is pinned by a step-for-step NumPy
    PQ replica (tests/test_similarity_multimodal.py), and the
    recall-vs-scalar-quantizer comparison is recorded in SCALE.md.

    Scale shape: codes are m bytes per vector (vs 64 int8s for the
    scalar form — 8x smaller again); in the materialized layout
    (index.py) only the codes column ships at probe time and the
    raw vectors are re-read for shortlist rows, exactly as
    ``probe_ivfpq_index`` does. Here candidates keep ``v`` in-frame
    because the one-job form refines in place."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    dim = 64
    book = train_pq_codebook(e, dim)
    # ADC: decode once per candidate, score every query against the
    # reconstruction (approx norm comes from the reconstruction too).
    # codes + reconstruction + rnorm come from ONE mapInArrow NumPy
    # pass (guide §4.2) — the r16-era column-expression form embedded
    # the full m x ksub codebook as literal trees twice and janino
    # codegen of those trees dominated the sidecar's wall-time.
    cands = _pq_encode_arrow(
        e.filter(F.col("vec_id") >= 5).select(
            F.col("vec_id").alias("cand_id"), F.col("v").alias("cv")
        ),
        book,
        "cand_id",
        "cv",
    )
    qs = (
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn("qnorm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    )
    scored = cands.join(F.broadcast(qs)).select(
        "query_id",
        "cand_id",
        F.round(
            _dot(F.col("qv"), F.col("rec"))
            / (F.col("qnorm") * F.col("rnorm")),
            6,
        ).alias("pq_score"),
        F.round(
            _dot(F.col("qv"), F.col("cv"))
            / (F.col("qnorm") * F.sqrt(_dot(F.col("cv"), F.col("cv")))),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("pq_score"), "cand_id"
    )
    sl = scored.withColumn("sl_rk", F.row_number().over(w)).filter(
        F.col("sl_rk") <= 100
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "cand_id")
    return (
        sl.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= 10)
        .select("query_id", "cand_id", "pq_score", "cos_sim", "rk")
    )


QUERIES = {
    "q_sim_cosine_topk": q_sim_cosine_topk,
    "q_sim_embedding_neardup": q_sim_embedding_neardup,
    "q_sim_ann_lsh": q_sim_ann_lsh,  # rows-only
    "q_sim_kmeans": q_sim_kmeans,  # rows-only (iterative)
    "q_dedup_semantic": q_dedup_semantic,
    "q_dedup_semantic_incremental": q_dedup_semantic_incremental,
    "q_sim_ann_pq_trained": q_sim_ann_pq_trained,  # rows-only (trained codebook)
}

_V = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

ORACLE = {
    "q_sim_cosine_topk": (
        "WITH e AS (SELECT vec_id, " + _V + " AS v FROM embeddings), "
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5), "
        "c AS (SELECT vec_id AS cand_id, v AS cv FROM e WHERE vec_id >= 5), "
        "scored AS ("
        "  SELECT query_id, cand_id, "
        "  round(list_dot_product(qv, cv) / "
        "        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) "
        "    AS cos_sim "
        "  FROM c CROSS JOIN q) "
        "SELECT query_id, cand_id, cos_sim, rk FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rk "
        "  FROM scored) WHERE rk <= 10"
    ),
    "q_sim_embedding_neardup": (
        # same hot-block cap as the Spark side (MAX_BLOCK_SIZE)
        "WITH e0 AS (SELECT vec_id, label, " + _V + " AS v FROM embeddings), "
        "keep AS (SELECT label FROM e0 GROUP BY label "
        "         HAVING count(*) <= 4096), "
        "e AS (SELECT e0.* FROM e0 JOIN keep USING (label)) "
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label, "
        "round(list_dot_product(a.v, b.v) / "
        "      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) "
        "  AS cos_sim "
        "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id "
        "WHERE round(list_dot_product(a.v, b.v) / "
        "      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) "
        "  >= 0.35"
    ),
    "q_dedup_semantic_incremental": (
        # q_dedup_semantic over the full table, restricted to the
        # batch rows (md5 hash buckets >= 80 of vec_id) — the oracle
        # certifies the incremental implementation's equivalence to
        # the one-shot op on the union
        "WITH e0 AS (SELECT vec_id, label, " + _V + " AS v FROM embeddings), "
        "keep AS (SELECT label FROM e0 GROUP BY label "
        "         HAVING count(*) <= 4096), "
        "e AS (SELECT e0.* FROM e0 JOIN keep USING (label)), "
        "batch AS (SELECT vec_id FROM embeddings "
        "  WHERE (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::UBIGINT % 100) >= 80), "
        "dropped AS (SELECT DISTINCT b.vec_id AS d_id "
        "  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id "
        "  JOIN batch ON b.vec_id = batch.vec_id "
        "  WHERE round(list_dot_product(a.v, b.v) / "
        "        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) "
        "    >= 0.35) "
        "SELECT e0.vec_id, e0.label, "
        "  CASE WHEN d.d_id IS NULL THEN 1 ELSE 0 END AS kept "
        "FROM e0 JOIN batch USING (vec_id) "
        "LEFT JOIN dropped d ON e0.vec_id = d.d_id"
    ),
    "q_dedup_semantic": (
        "WITH e0 AS (SELECT vec_id, label, " + _V + " AS v FROM embeddings), "
        "occ AS (SELECT label, "
        "  CASE WHEN count(*) <= 4096 THEN 1 ELSE 0 END AS judged "
        "  FROM e0 GROUP BY label), "
        "e AS (SELECT e0.* FROM e0 JOIN occ USING (label) WHERE occ.judged = 1), "
        "dropped AS (SELECT DISTINCT b.vec_id AS d_id "
        "  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id "
        "  WHERE round(list_dot_product(a.v, b.v) / "
        "        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) "
        "    >= 0.35) "
        "SELECT e0.vec_id, e0.label, "
        "  CASE WHEN d.d_id IS NULL THEN 1 ELSE 0 END AS kept, occ.judged "
        "FROM e0 JOIN occ USING (label) LEFT JOIN dropped d ON e0.vec_id = d.d_id"
    ),
}


# ---------------------------------------------------------------
# Deterministic random-hyperplane LSH (Charikar 2002, STOC — the
# SimHash family lifted to embedding space; public). Unlike
# q_sim_ann_lsh (MLlib, engine-internal hash family, rows-only),
# the hyperplanes here are fixed integer literals embedded in BOTH
# engines, so the bucketing — and therefore the whole query — is
# oracle-certifiable.
#
# Geometry honesty: a hyperplane splits a cos>=t pair with
# probability acos(t)/pi, so the per-bit agreement for this
# fixture's near-dup regime (t=0.35, theta ~ 69.5 deg) is only
# ~0.61 vs 0.5 for a random pair — RHP-LSH separates WEAKLY at low
# thresholds (its sweet spot is near-dup 0.9+, where agreement is
# 0.86/bit). 8 bands x 4 bits is tuned for measurable recall in
# that weak regime (expected ~1-(1-0.61^4)^8 ~ 0.70 of true pairs
# collide in >= 1 band; the unit test pins the achieved recall
# against the exact q_sim_embedding_neardup twin). Production at
# 0.9+ would widen bands (fewer, longer) to cut candidates.
#
# Quantization: embeddings scale to integers (x1000 round-half-up)
# and planes are integers in [-4, 4], so every dot product is
# integer-valued and exact in BOTH engines' double arithmetic
# (|dot| << 2^53) — no sign-boundary float divergence by
# construction.
_RHP_BANDS = 8
_RHP_BITS = 4
_RHP_DIM = 64
_RHP_MAX_BUCKET = 1024
_RHP_THRESHOLD = 0.35


def _rhp_planes() -> list[list[int]]:
    import random

    rng = random.Random(20240814)
    return [
        [rng.randint(-4, 4) for _ in range(_RHP_DIM)]
        for _ in range(_RHP_BANDS * _RHP_BITS)
    ]


RHP_PLANES = _rhp_planes()


def _rhp_signature(src, planes, bands: int, bits: int, slot: str):
    """(vec_id, b0..b{bands-1}) band values — sign bits of the plane
    projections packed per band — via ONE Arrow-batched numpy matmul
    instead of bands×bits interpreted HOF folds per row.

    BIT-IDENTICAL to the expression form by construction: vectors
    and planes are integers, every product and partial sum is
    integer-valued far below 2^53, so the f64 matmul is exact in ANY
    summation order — the one situation where swapping a
    deterministic fold for BLAS cannot move a sign. Verified
    set-equal on the fixture and A/B'd at sf0.1 (SCALE.md r9):
    candidate gen 3.05 s → 1.04 s (matmul) → 0.72 s (matmul +
    one-slot cache; the signature feeds THREE consumers — the
    bucket-cap agg and both self-join sides — and AQE's
    ReusedExchange does not dedupe this shape, measured ~3×
    recompute). Cached via ``cacheutil.cache_latest`` (bounded: one
    live copy per config slot).

    Scale: one narrow (vec_id, 4·bands bytes) frame per vector; the
    matmul is embarrassingly parallel per Arrow batch; cache size is
    |vectors| × (8 + 4·bands) bytes — the sketch you would persist
    anyway as the corpus index."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..cacheutil import cache_latest

    P = np.array(planes, dtype=np.float64).T  # dim × (bands·bits)
    weights = np.array(
        [1 << (bits - 1 - i) for i in range(bits)], dtype=np.int64
    )
    schema = T.StructType(
        [T.StructField("vec_id", T.LongType())]
        + [T.StructField(f"b{b}", T.IntegerType()) for b in range(bands)]
    )

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["eq"].to_numpy()).astype(np.float64)
            d = x @ P
            sign = (d > 0).astype(np.int64).reshape(len(pdf), bands, bits)
            vals = (sign * weights).sum(axis=2)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for b in range(bands):
                out[f"b{b}"] = vals[:, b].astype(np.int32)
            yield pd.DataFrame(out)

    return cache_latest(
        slot, src.select("vec_id", "eq").mapInPandas(project, schema)
    )


def q_sim_lsh_rhp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs, oracle-certified: sign
    bits of 32 fixed integer hyperplanes, banded 8x4 into bucket
    keys; candidate pairs meet ONLY inside a (band, value) bucket
    (capped at ``_RHP_MAX_BUCKET``), then exact cosine refine at
    ``_RHP_THRESHOLD``. Output shape matches the exact blocked twin
    ``q_sim_embedding_neardup`` minus the label column — recall vs
    that twin is the quality metric (see geometry note above).

    Scale: signature computation is a per-row projection (32
    integer dots, spelled as one Arrow-batched matmul since r9 —
    see ``_rhp_signature`` for the bit-identity argument and the
    A/B); the only shuffles are the bucket-count cap agg and the
    in-bucket self-join keyed on (band, value) — never all-pairs;
    the refine re-joins vectors BY ID so the banded exchange
    carries 8 small rows per vector, not 8 copies of the vector.
    Hot buckets (a dead direction in embedding space) are capped
    exactly like the banded-MinHash path."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        _as_double("embedding").alias("v"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)),
        ).alias("eq"),
    )
    e = e.withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    sig = _rhp_signature(e, RHP_PLANES, _RHP_BANDS, _RHP_BITS, "rhp_sig_weak")
    buckets = sig.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"b{b}") for b in range(_RHP_BANDS)])).alias(
            "band", "val"
        ),
    )
    counts = buckets.groupBy("band", "val").agg(F.count(F.lit(1)).alias("n"))
    keep = counts.filter(F.col("n") <= _RHP_MAX_BUCKET).select("band", "val")
    bk = buckets.join(F.broadcast(keep), ["band", "val"])
    cand = (
        bk.alias("a")
        .join(bk.alias("b"), ["band", "val"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    ea = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    eb = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _RHP_THRESHOLD)
    )


QUERIES["q_sim_lsh_rhp"] = q_sim_lsh_rhp


def _rhp_sql() -> str:
    def plane_dot_sql(plane: list[int]) -> str:
        lit = "[" + ", ".join(f"{float(w)!r}" for w in plane) + "]"
        return f"list_dot_product(eq, {lit})"

    bands = []
    for b in range(_RHP_BANDS):
        bits = " + ".join(
            f"(CASE WHEN {plane_dot_sql(RHP_PLANES[b * _RHP_BITS + i])} > 0 "
            f"THEN {1 << (_RHP_BITS - 1 - i)} ELSE 0 END)"
            for i in range(_RHP_BITS)
        )
        bands.append(f"({bits})::INT AS b{b}")
    band_cols = ", ".join(bands)
    unions = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, b{b} AS val FROM sig"
        for b in range(_RHP_BANDS)
    )
    cos = (
        "round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6)"
    )
    return (
        "WITH e AS (SELECT vec_id, "
        + _V
        + " AS v, "
        "list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)) AS eq "
        "FROM embeddings), "
        "en AS (SELECT vec_id, v, eq, sqrt(list_dot_product(v, v)) AS nrm FROM e), "
        f"sig AS (SELECT vec_id, {band_cols} FROM en), "
        f"bk0 AS ({unions}), "
        "keep AS (SELECT band, val FROM bk0 GROUP BY band, val "
        f"         HAVING count(*) <= {_RHP_MAX_BUCKET}), "
        "bk AS (SELECT bk0.* FROM bk0 JOIN keep USING (band, val)), "
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b "
        "  FROM bk a JOIN bk b ON a.band = b.band AND a.val = b.val "
        "  AND a.vec_id < b.vec_id) "
        f"SELECT vec_a, vec_b, {cos} AS cos_sim "
        "FROM cand JOIN en ea ON cand.vec_a = ea.vec_id "
        "JOIN en eb ON cand.vec_b = eb.vec_id "
        f"WHERE {cos} >= {_RHP_THRESHOLD!r}"
    )


ORACLE["q_sim_lsh_rhp"] = _rhp_sql()


# ---------------------------------------------------------------
# Strict-regime RHP configuration (r8 verdict #8): the weak-
# separation geometry note above promises that the 0.9+ near-dup
# regime "prunes hard" with fewer, LONGER bands — this certifies
# that claim with data instead of a formula. The fixture has no
# cos >= 0.9 pairs (measured max 0.60), so the query SYNTHESIZES
# them deterministically: each vector gets a twin perturbed by
# md5-derived integer deltas in [-70, 70] per coordinate (measured
# twin cosine 0.926-0.973 on the fixture — squarely the regime).
# Both engines derive identical twins, so the cert stays an exact
# hash match. Expected per-band collision at cos ~0.95 is
# 0.899^8 ~ 0.43, recall over 6 bands ~0.96; a RANDOM pair passes
# a band at 0.5^8 ~ 0.4% — candidate admission collapses vs the
# ~40% of the weak 8x4 config (measured in SCALE.md r9).
_RHP_S_BANDS = 6
_RHP_S_BITS = 8
_RHP_S_THRESHOLD = 0.9
_RHP_TWIN_OFFSET = 10_000_000
_RHP_TWIN_G = 70  # delta = md5 % (2G+1) - G


def _rhp_strict_planes() -> list[list[int]]:
    import random

    rng = random.Random(20250814)
    return [
        [rng.randint(-4, 4) for _ in range(_RHP_DIM)]
        for _ in range(_RHP_S_BANDS * _RHP_S_BITS)
    ]


RHP_STRICT_PLANES = _rhp_strict_planes()


def q_sim_lsh_rhp_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHP-LSH in its PRODUCTION regime — threshold 0.9, 6 bands x
    8 bits — over the fixture plus deterministic perturbed twins
    (the only way to have real 0.9+ pairs here; see module note).
    Returns the admitted-and-refined pairs (vec_a, vec_b, cos_sim
    >= 0.9); on this fixture that is exactly the recalled twin
    pairs, and the unit test pins recall >= 0.9 against the known
    twin ground truth while the weak-config admission comparison is
    recorded in SCALE.md.

    Scale: identical plan shape to ``q_sim_lsh_rhp`` (projection ->
    capped buckets -> in-bucket join -> id-keyed refine); the long
    8-bit bands spread each band over 256 values, so bucket
    occupancy — and with it the candidate count — collapses
    relative to the 4-bit weak config. All dots are integer-valued
    (quantized x1000 vectors, integer planes), exact in both
    engines' doubles."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)),
        ).alias("eq"),
    )
    delta = lambda x, i: x + (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("vec_id").cast("string"),
                        (i + 1).cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % (2 * _RHP_TWIN_G + 1)
        - _RHP_TWIN_G
    )
    # two-step like the oracle's subquery: aliasing vec_id + OFFSET
    # in the SAME select lateral-shadows the vec_id the delta lambda
    # hashes (both engines resolve the lambda against the alias)
    twins = e.select("vec_id", F.transform("eq", delta).alias("eq")).select(
        (F.col("vec_id") + _RHP_TWIN_OFFSET).alias("vec_id"), "eq"
    )
    allv = e.unionByName(twins).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform("eq", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )

    sig = _rhp_signature(
        allv, RHP_STRICT_PLANES, _RHP_S_BANDS, _RHP_S_BITS, "rhp_sig_strict"
    )
    buckets = sig.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"b{b}") for b in range(_RHP_S_BANDS)])
        ).alias("band", "val"),
    )
    counts = buckets.groupBy("band", "val").agg(F.count(F.lit(1)).alias("n"))
    keep = counts.filter(F.col("n") <= _RHP_MAX_BUCKET).select("band", "val")
    bk = buckets.join(F.broadcast(keep), ["band", "val"])
    cand = (
        bk.alias("a")
        .join(bk.alias("b"), ["band", "val"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    dot = F.aggregate(
        F.zip_with(F.col("ea_eq"), F.col("eb_eq"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ea = allv.select(
        F.col("vec_id").alias("vec_a"),
        F.col("eq").alias("ea_eq"),
        F.col("nrm").alias("na"),
    )
    eb = allv.select(
        F.col("vec_id").alias("vec_b"),
        F.col("eq").alias("eb_eq"),
        F.col("nrm").alias("nb"),
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _RHP_S_THRESHOLD)
    )


QUERIES["q_sim_lsh_rhp_strict"] = q_sim_lsh_rhp_strict


def _rhp_strict_sql() -> str:
    g = _RHP_TWIN_G

    def plane_dot_sql(plane: list[int]) -> str:
        lit = "[" + ", ".join(f"{float(w)!r}" for w in plane) + "]"
        return f"list_dot_product(eq, {lit})"

    bands = []
    for b in range(_RHP_S_BANDS):
        bits = " + ".join(
            f"(CASE WHEN {plane_dot_sql(RHP_STRICT_PLANES[b * _RHP_S_BITS + i])} > 0 "
            f"THEN {1 << (_RHP_S_BITS - 1 - i)} ELSE 0 END)"
            for i in range(_RHP_S_BITS)
        )
        bands.append(f"({bits})::INT AS b{b}")
    band_cols = ", ".join(bands)
    unions = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, b{b} AS val FROM sig"
        for b in range(_RHP_S_BANDS)
    )
    cos = "round(list_dot_product(ea.eq, eb.eq) / (ea.nrm * eb.nrm), 6)"
    return (
        "WITH e AS (SELECT vec_id, "
        "list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)) AS eq "
        "FROM embeddings), "
        # inner subquery: DuckDB lateral alias binding would otherwise
        # resolve vec_id inside the lambda to the OFFSET alias and
        # hash the wrong id (3-row cert mismatch found this)
        "tw AS (SELECT vec_id + "
        f"{_RHP_TWIN_OFFSET} AS vec_id, tq AS eq FROM "
        "(SELECT vec_id, list_transform(range(1, len(eq) + 1), i -> eq[i] + "
        "((('0x' || substr(md5(vec_id::VARCHAR || ':' || i::VARCHAR), 1, 15))"
        f"::UBIGINT)::BIGINT % {2 * g + 1}) - {g}) AS tq FROM e) s), "
        "allv AS (SELECT * FROM e UNION ALL SELECT * FROM tw), "
        "en AS (SELECT vec_id, eq, sqrt(list_dot_product(eq, eq)) AS nrm "
        "FROM allv), "
        f"sig AS (SELECT vec_id, {band_cols} FROM en), "
        f"bk0 AS ({unions}), "
        "keep AS (SELECT band, val FROM bk0 GROUP BY band, val "
        f"         HAVING count(*) <= {_RHP_MAX_BUCKET}), "
        "bk AS (SELECT bk0.* FROM bk0 JOIN keep USING (band, val)), "
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b "
        "  FROM bk a JOIN bk b ON a.band = b.band AND a.val = b.val "
        "  AND a.vec_id < b.vec_id) "
        f"SELECT vec_a, vec_b, {cos} AS cos_sim "
        "FROM cand JOIN en ea ON cand.vec_a = ea.vec_id "
        "JOIN en eb ON cand.vec_b = eb.vec_id "
        f"WHERE {cos} >= {_RHP_S_THRESHOLD!r}"
    )


ORACLE["q_sim_lsh_rhp_strict"] = _rhp_strict_sql()


# ---------------------------------------------------------------
# Occupancy-adaptive semantic dedup (r12 verdict #5, option (a)):
# q_dedup_semantic's cell key is the fixture's `label` column — a
# stand-in for an IVF coarse cell whose K is FIXED, so cell
# occupancy grows linearly with the corpus and the within-cell pair
# stage grows quadratically (the measured 1.31 decade slope at
# sf0.1 -> sf1). At 100 TB a real quantizer scales K with the
# corpus; this operator builds that scaling INSIDE the query, and
# keeps it oracle-certifiable: each coarse cell whose occupancy
# exceeds _SEM_TARGET_OCC is refined by the sign-bit PREFIX of
# fixed integer random hyperplanes (the Charikar RHP family already
# certified in q_sim_lsh_rhp), with the prefix length chosen from
# the cell's own occupancy — cells double their split count until
# expected occupancy falls under the target. Refinement cost: one
# tiny per-cell count agg + 8 integer plane dots per vector.
#
# The recall trade is the standard LSH hand-off, now stated per
# cell: a similar pair split across sibling subcells is missed
# (per-bit split probability acos(cos)/pi — ~0.39 per bit at the
# 0.35 threshold), in exchange for a pair stage whose per-cell cost
# is occupancy-BOUNDED regardless of corpus size: cost per vector
# stays <= ~2 * _SEM_TARGET_OCC dot products, so the stage is
# linear in the corpus by construction. Unrefined cells (the
# common case) are bit-identical to q_dedup_semantic.
_SEM_TARGET_OCC = 512
_SEM_REFINE_BITS = 8  # max refinement depth: 256-way split


def _sem_refine_planes() -> list[list[int]]:
    import random

    rng = random.Random(20260816)
    return [
        [rng.randint(-4, 4) for _ in range(_RHP_DIM)]
        for _ in range(_SEM_REFINE_BITS)
    ]


SEM_REFINE_PLANES = _sem_refine_planes()


def sem_refine_sig(e_with_eq: DataFrame) -> DataFrame:
    """(vec_id, __sig): the 8-bit sign-prefix refinement signature —
    a PURE per-vector function (integer plane dots via the shared
    Arrow-matmul path), so the adaptive rollup can persist it with
    the vector state and a re-absorbed vec_id dedups to the
    identical row."""
    return _rhp_signature(
        e_with_eq, SEM_REFINE_PLANES, 1, _SEM_REFINE_BITS, "sem_refine_sig"
    ).withColumnRenamed("b0", "__sig")


def adaptive_cells(state: DataFrame) -> DataFrame:
    """(vec_id, label, v, norm, __sig) -> the same vectors keyed by
    the occupancy-adaptive composite cell (label replaced by
    ``label * 2^bits + __sig DIV divisor``), ready for
    ``_pairs_from_state``. The divisor ladder is recomputed from the
    CURRENT occupancies every call — that is the operator's whole
    point (cells subdivide as the corpus grows), so the rollup
    stores the signature, never the cell."""
    t = _SEM_TARGET_OCC
    div = F.when(F.col("__occ") <= t, 256)
    for k in range(1, _SEM_REFINE_BITS):
        div = div.when(F.col("__occ") <= t * (1 << k), 256 >> k)
    div = div.otherwise(1)
    occ = (
        state.groupBy("label")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .select("label", div.alias("__div"))
    )
    return (
        state.join(F.broadcast(occ), "label")
        .withColumn(
            "__cell",
            F.col("label").cast("long") * (1 << _SEM_REFINE_BITS)
            + F.expr("__sig DIV __div"),
        )
        .select("vec_id", F.col("__cell").alias("label"), "v", "norm")
    )


def q_dedup_semantic_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with an occupancy-adaptive cell grid (module note
    above): the drop rule of :func:`q_dedup_semantic` (lower-id
    cosine >= 0.35 neighbor in the same cell drops you) evaluated
    over cells that SUBDIVIDE with corpus growth, so the quadratic
    pair stage is occupancy-bounded at any scale — the
    fixture-independent form of the coarse quantizer whose fixed K
    made the one-shot op's decade slope superlinear.

    Plan: one count agg over cells (tiny, broadcast), one 8-plane
    integer projection per vector (Arrow matmul, shared signature
    cache slot), then exactly the salted capped pair scan of
    `_pairs_from_state` keyed on the composite
    ``label * 2^bits_max + sign-prefix`` cell. Output identical in
    shape to q_dedup_semantic: (vec_id, label, kept)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        _as_double("embedding").alias("v"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)),
        ).alias("eq"),
    ).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    # per-coarse-cell occupancy -> power-of-two split factor. The
    # divisor ladder is INTEGER-exact (no log2 floats to disagree
    # across engines): occupancy in (TARGET*2^(k-1), TARGET*2^k]
    # refines by k bits, i.e. prefix divisor 2^(8-k). Ladder + cell
    # composition live in :func:`adaptive_cells` (shared with the
    # adaptive rollup's keeplist/probe readers).
    state = adaptive_cells(
        e.join(sem_refine_sig(e), "vec_id").select(
            "vec_id", "label", "v", "norm", "__sig"
        )
    )
    dropped = (
        _pairs_from_state(state)
        .select(F.col("vec_b").alias("d_id"))
        .distinct()
    )
    out = e.select("vec_id", "label")
    return out.join(dropped, out.vec_id == F.col("d_id"), "left").select(
        "vec_id",
        "label",
        F.when(F.col("d_id").isNull(), 1).otherwise(0).alias("kept"),
    )


QUERIES["q_dedup_semantic_adaptive"] = q_dedup_semantic_adaptive


def _sem_adaptive_sql() -> str:
    def plane_dot(plane: list[int]) -> str:
        lit = "[" + ", ".join(f"{float(w)!r}" for w in plane) + "]"
        return f"list_dot_product(eq, {lit})"

    b0 = " + ".join(
        f"(CASE WHEN {plane_dot(SEM_REFINE_PLANES[i])} > 0 "
        f"THEN {1 << (_SEM_REFINE_BITS - 1 - i)} ELSE 0 END)"
        for i in range(_SEM_REFINE_BITS)
    )
    t = _SEM_TARGET_OCC
    ladder = f"CASE WHEN occ <= {t} THEN 256 " + " ".join(
        f"WHEN occ <= {t * (1 << k)} THEN {256 >> k}"
        for k in range(1, _SEM_REFINE_BITS)
    ) + " ELSE 1 END"
    cos = (
        "round(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
    )
    return (
        "WITH e0 AS (SELECT vec_id, label, " + _V + " AS v, "
        "list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)) AS eq "
        "FROM embeddings), "
        "occ AS (SELECT label, " + ladder + " AS dv "
        "FROM (SELECT label, count(*) AS occ FROM e0 GROUP BY label)), "
        f"sig AS (SELECT vec_id, ({b0}) AS s FROM e0), "
        "cells AS (SELECT e0.vec_id, e0.label, e0.v, "
        f"  e0.label::BIGINT * {1 << _SEM_REFINE_BITS} + (sig.s // occ.dv) AS cell "
        "  FROM e0 JOIN occ USING (label) JOIN sig USING (vec_id)), "
        "keep AS (SELECT cell FROM cells GROUP BY cell "
        f"         HAVING count(*) <= {MAX_BLOCK_SIZE}), "
        "cc AS (SELECT cells.* FROM cells JOIN keep USING (cell)), "
        "dropped AS (SELECT DISTINCT b.vec_id AS d_id "
        "  FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id "
        f"  WHERE {cos} >= 0.35) "
        "SELECT e0.vec_id, e0.label, "
        "  CASE WHEN d.d_id IS NULL THEN 1 ELSE 0 END AS kept "
        "FROM e0 LEFT JOIN dropped d ON e0.vec_id = d.d_id"
    )


ORACLE["q_dedup_semantic_adaptive"] = _sem_adaptive_sql()


#: mutual-kNN neighborhood size.
_KNN_GRAPH_K = 5


def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-nearest-neighbor graph construction over the
    embedding corpus — the edge-building step of graph-based
    curation (connected-component semantic clusters, kNN-graph
    label propagation, hubness diagnostics): an edge (a, b) exists
    iff b is in a's cosine top-``_KNN_GRAPH_K`` AND a is in b's
    (mutuality prunes asymmetric hub edges). Neighborhoods are
    exact WITHIN the coarse cell (the label-blocked, hot-cell-capped
    pair scan of q_sim_embedding_neardup — the IVF-cell contract:
    cross-cell recall is the ANN path's job) and floored at that
    scan's 0.35 cosine threshold — neighborhoods can hold FEWER than
    k edges, never junk ones (the radius-bounded kNN variant).

    Deterministic: ranking key (round-6 cosine DESC, neighbor id
    ASC) is a total order. Output: mutual edges a < b with their
    cosine.

    Scale: the pair scan is the audited salted/capped stage; the
    two top-k windows partition BY VECTOR (never global); the
    mutual filter is a self-semi-join on the (small) directed top-k
    edge set — each stage is bounded by corpus x k, not corpus²."""
    from pyspark.sql import Window

    pairs = q_sim_embedding_neardup(spark, sf_dir).select(
        "vec_a", "vec_b", "cos_sim"
    )
    # both directions: per-vector candidate list
    directed = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"), "cos_sim"
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"), "cos_sim"
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("dst"))
    topk = directed.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _KNN_GRAPH_K
    )
    fwd = topk.select("src", "dst", "cos_sim")
    rev = topk.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mutual = fwd.join(rev, ["src", "dst"], "left_semi")
    return (
        mutual.where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("vec_a"),
            F.col("dst").alias("vec_b"),
            "cos_sim",
        )
    )


QUERIES["q_sim_knn_graph"] = q_sim_knn_graph

# within-cell exact pairs (the q_sim_embedding_neardup oracle)
# -> both directions -> per-src top-k -> mutual -> a < b.
# Kept as a bare CTE chain so the cluster-stage oracle below can
# prepend WITH RECURSIVE and continue the chain.
_KNN_CTES = (
    "e0 AS (SELECT vec_id, label, " + _V + " AS v FROM embeddings), "
    "keep AS (SELECT label FROM e0 GROUP BY label "
    f"         HAVING count(*) <= {MAX_BLOCK_SIZE}), "
    "e AS (SELECT e0.* FROM e0 JOIN keep USING (label)), "
    "pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
    "round(list_dot_product(a.v, b.v) / "
    "      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) "
    "  AS cos_sim "
    "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id "
    "WHERE round(list_dot_product(a.v, b.v) / "
    "      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) "
    "  >= 0.35), "
    "directed AS (SELECT vec_a AS src, vec_b AS dst, cos_sim FROM pairs "
    "UNION ALL SELECT vec_b, vec_a, cos_sim FROM pairs), "
    "topk AS (SELECT * FROM (SELECT src, dst, cos_sim, "
    "row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst ASC) "
    f"AS rk FROM directed) WHERE rk <= {_KNN_GRAPH_K})"
)

ORACLE["q_sim_knn_graph"] = (
    "WITH " + _KNN_CTES + " "
    "SELECT f.src AS vec_a, f.dst AS vec_b, f.cos_sim "
    "FROM topk f JOIN topk r ON f.src = r.dst AND f.dst = r.src "
    "WHERE f.src < f.dst"
)


def q_sim_knn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic cluster resolution over the mutual-kNN graph — the
    SemDeDup-paper cluster stage (Abbas et al. 2023) and the first
    consumer of :func:`q_sim_knn_graph` (r13 verdict #3): connected
    components over the mutual edges, one row per vector that
    participates in at least one edge, with ``cluster_id`` = the
    component-min vec_id (the canonical member a keep-canonical
    policy retains), the component's ``cluster_size``, and ``canon``
    1/0 marking the canonical member itself.

    Components come from the shared ``graph.components`` core (the
    same machinery certified under ``q_graph_cc_star``): finished on
    the driver below its pair gate, large-star/small-star rounds
    above it, so adversarial component diameters never cost
    diameter rounds. The size join shuffles on
    cluster_id only — (node, cluster_id) rows, never vectors."""
    from .graph import components

    edges = q_sim_knn_graph(spark, sf_dir).select(
        F.col("vec_a").alias("u"), F.col("vec_b").alias("v")
    )
    comp = components(edges, caller="q_sim_knn_clusters")
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "cluster_id").select(
        F.col("node").alias("vec_id"),
        "cluster_id",
        "cluster_size",
        F.when(F.col("node") == F.col("cluster_id"), 1)
        .otherwise(0)
        .alias("canon"),
    )


QUERIES["q_sim_knn_clusters"] = q_sim_knn_clusters
ORACLE["q_sim_knn_clusters"] = (
    "WITH RECURSIVE " + _KNN_CTES + ", "
    "knn AS (SELECT f.src AS vec_a, f.dst AS vec_b "
    "  FROM topk f JOIN topk r ON f.src = r.dst AND f.dst = r.src "
    "  WHERE f.src < f.dst), "
    "edges AS (SELECT vec_a AS src, vec_b AS dst FROM knn "
    "          UNION ALL SELECT vec_b, vec_a FROM knn), "
    "nodes AS (SELECT DISTINCT src AS node FROM edges), "
    "reach(node, lab) AS ("
    "  SELECT node, node FROM nodes "
    "  UNION "
    "  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node), "
    "cc AS (SELECT node AS vec_id, min(lab) AS cluster_id "
    "       FROM reach GROUP BY node), "
    "sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size "
    "       FROM cc GROUP BY cluster_id) "
    "SELECT vec_id, cc.cluster_id, sz.cluster_size, "
    "CASE WHEN vec_id = cc.cluster_id THEN 1 ELSE 0 END AS canon "
    "FROM cc JOIN sz ON cc.cluster_id = sz.cluster_id"
)
