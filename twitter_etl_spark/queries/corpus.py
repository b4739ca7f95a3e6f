"""Corpus-level dedup/cleanup operators ([EXT], SURVEY.md §2.6).

Near-dup *pair* generators (``dedup.py``) answer "which documents
look alike"; a training-data pipeline then needs "which documents do
I keep". That is a graph problem: pairs are edges, connected
components are duplicate clusters, and the canonical keeper is the
minimum ``doc_id`` per component (the same keep-first rule as the
reference's exact dedup, ``main.R:105``).

Scale design:

- **Connected components**: :func:`graph.components`, the package's
  one implementation. It checkpoints the distinct pair set once and,
  while the set is at most ``graph._LOCAL_MAX_PAIRS`` pairs (every
  fixture; near-dup graphs are sparse), collects it through Arrow in
  one job and finishes on the driver in NumPy (min-label hooking plus
  pointer jumping). Larger graphs contract on the cluster by
  large-star/small-star rounds (O(log n) whatever the diameter) until
  they fit under the same gate. Labels are the component minimum in
  both regimes.
- **Corpus-adaptive stopwords**: document frequency is one explode +
  hash agg; the discovered stop list is a few hundred tokens max by
  construction (df > threshold·N bounds its size by 1/threshold
  times the doc count over any disjoint support — in practice
  vocabulary-head sized), so it broadcasts, and the scrub itself is
  a codegen'd per-row array filter. No second corpus shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel

from ..cleaning import tokens
from ..tables import table
from .dedup import ORACLE as _DEDUP_ORACLE
from .dedup import (
    _INCR_RECRAWL_SHIFT,
    _shingles,
    _spread,
)

# A token present in more than this fraction of documents is
# corpus boilerplate (template chrome, navigation text) and is
# scrubbed. 0.5 mirrors the "appears in most documents" heuristic
# used by adaptive-stopword corpus cleaners.
_STOPWORD_DF_FRACTION = 0.5


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the 3-gram
    Jaccard pair graph (``q_dedup_ngram_jaccard``), one row per
    document that participates in at least one near-dup pair, with
    ``cluster_id`` = min ``doc_id`` of its component — the canonical
    keeper; every other member is a drop candidate.

    This is the same computation as ``graph.q_graph_cc_star``
    (:func:`graph.components` over the same pairs; labels = the
    component minimum), registered under the dedup name.
    """
    from .graph import q_graph_cc_star

    return q_graph_cc_star(spark, sf_dir)


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup accounting: per near-dup cluster, its
    size and how many documents a keep-canonical policy would drop
    (size - 1). The corpus-level sum of ``n_dropped`` is the dedup
    yield of the near-dup stage."""
    clusters = q_dedup_cluster(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .withColumn("n_dropped", F.col("cluster_size") - F.lit(1))
    )


def q_text_corpus_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-adaptive boilerplate scrub: discover tokens whose
    document frequency exceeds ``_STOPWORD_DF_FRACTION`` of the
    corpus (template chrome — the corpus-statistics analogue of the
    reference's fixed Spanish stopword list, ``main.R:101``), then
    delete them from every document, preserving token order.

    The stop list is discovered, aggregated to a single sorted-array
    row, and broadcast; the scrub is a per-row ``filter`` +
    ``array_join`` — whole-stage codegen, no Python."""
    d = _spread(
        table(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    )
    ex = d.select("doc_id", F.explode(F.array_distinct("toks")).alias("token"))
    dfreq = ex.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.countDistinct("doc_id").alias("n"))
    stop_row = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") > _STOPWORD_DF_FRACTION * F.col("n"))
        .agg(F.array_sort(F.collect_list("token")).alias("stop"))
    )
    return d.crossJoin(F.broadcast(stop_row)).select(
        "doc_id",
        F.array_join(
            F.filter(
                F.col("toks"), lambda t: ~F.array_contains(F.col("stop"), t)
            ),
            " ",
        ).alias("scrubbed_text"),
        F.size("stop").alias("n_stopwords"),
    )


# Banded-MinHash parameters: 8 bands of 1 minhash each. Collision
# probability for Jaccard j is 1-(1-j)^8 (0.94 at the 0.3 verify
# threshold), and every candidate is verified exactly, so the band
# stage only controls recall/cost, never correctness. md5 is the
# hash so the signature is bit-identical across engines (and across
# cluster layouts — no RNG/JVM-seed state, same argument as the
# hash-bucketed sampling family).
_MINHASH_BANDS = 8
# same guard family as the other pair generators (SCALE.md): a
# degenerate signature bucket (empty/templated docs) never goes
# quadratic
_MINHASH_MAX_BUCKET = 1024


def _shingle_digests():
    """Per-shingle 64-hex digest array for a ``s: array<string>``
    shingle column: ``md5('0|'||x) || md5('1|'||x)`` — ONE double
    digest per shingle; all band hashes and the verify key are
    slices of it (md5 bits are independent)."""
    return F.transform(
        F.col("s"),
        lambda x: F.concat(
            F.md5(F.concat(F.lit("0|"), x)), F.md5(F.concat(F.lit("1|"), x))
        ),
    )


def _band_slice(b: int):
    # single-arg lambda factory: a `lambda t, _b=b:` default param
    # would be inspected by PySpark as the (element, index) binary
    # form, silently binding _b to the array index instead of b
    return lambda t: F.substring(t, b * 8 + 1, 8)


def minhash_band_sigs(sh: DataFrame) -> DataFrame:
    """(doc_id, band, sig) band signatures for a (doc_id, s:
    array<string>) shingle frame: each shingle digested once as
    ``md5('0|'||x) || md5('1|'||x)`` (64 hex chars), band b's hash =
    the 8-hex slice at b*8, sig = min over the doc's shingles.
    Shared by :func:`q_dedup_minhash_banded` and the pure-Python
    cross-check in ``tests/test_corpus.py``."""
    digests = _shingle_digests()

    return sh.select("doc_id", digests.alias("dg")).select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array_min(
                            F.transform(F.col("dg"), _band_slice(b))
                        ).alias("sig"),
                    )
                    for b in range(_MINHASH_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")


def minhash_doc_state(sh: DataFrame) -> DataFrame:
    """Per-doc persistable MinHash state for a (doc_id, s:
    array<string>) shingle frame: ``sigs`` = the 8 band signatures
    (band order), ``sh`` = the sorted distinct 16-hex shingle-digest
    set. This is the row :mod:`twitter_etl_spark.rollup` persists as
    the incremental near-dup index: band buckets regenerate from
    ``sigs`` with one posexplode, and exact-Jaccard verification
    runs over the digest sets (identical cardinalities to the
    shingle-string sets — 64-bit md5 slices collide at ~n²/2⁶⁵,
    negligible and engine-deterministic) WITHOUT ever re-reading or
    re-shingling document text."""
    digests = _shingle_digests()
    return sh.select("doc_id", digests.alias("dg")).select(
        "doc_id",
        F.array(
            *[
                F.array_min(F.transform(F.col("dg"), _band_slice(b)))
                for b in range(_MINHASH_BANDS)
            ]
        ).alias("sigs"),
        F.array_sort(
            F.array_distinct(
                F.transform(F.col("dg"), lambda t: F.substring(t, 1, 16))
            )
        ).alias("sh"),
    )


def q_dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-certified MinHash LSH near-dup: each distinct 3-gram
    shingle is digested once as ``md5('0|'||x) || md5('1|'||x)``; band
    b's hash is the 8-hex (32-bit) slice of that digest at offset
    b*8, and a doc's band-b signature is the min slice over its
    shingles (see Hash budget below and :func:`minhash_band_sigs`).
    Docs agreeing on ANY band signature are candidates (bucket join,
    never all-pairs); candidates are then verified with exact shingle
    Jaccard >= 0.3.

    This is the same banded shape as the MLlib twin
    (``q_dedup_minhash``) but with an engine-independent hash, so
    the WHOLE sub-quadratic scale path — signature, banding, bucket
    join, verify — gets a DuckDB-checkable oracle instead of the
    rows-only gate MLlib's seeded hash family forces.

    Hash budget: each shingle is digested ONCE as
    ``md5('0|'||x) || md5('1|'||x)`` (64 hex chars) and the 8 band
    hashes are disjoint 8-hex (32-bit) slices of it — md5's bits
    are independent, so the slices act as 8 independent hash
    functions at 1/4 the hashing cost of 8 per-band md5s (measured
    ~2x end-to-end). Candidate pairs come from in-bucket
    ``collect_list`` generation — signatures shuffle ONCE, vs the
    aggregate + broadcast-keep + self-join triple pass."""
    d = _spread(
        table(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    )
    sh = d.select("doc_id", _shingles().alias("s")).filter(F.size("s") > 0)
    return minhash_banded_pairs(sh)


def minhash_banded_pairs(sh: DataFrame) -> DataFrame:
    """Verified near-dup pairs (doc_a, doc_b, jaccard >= 0.3) over an
    arbitrary (doc_id, s: array<string>) shingle frame — the banded
    candidate generation + exact-Jaccard verify of
    :func:`q_dedup_minhash_banded`, factored out so compositions
    (the r16 curation near-dup stage runs it over the exact-dedup
    keepers' NORMALIZED text) reuse the same certified machinery.
    Plan shape unchanged: one shuffle on (band, sig), df-capped
    buckets, upper-triangle in-bucket pair arrays, shingle-set
    join-back for the exact verify.

    The shingle frame is ``_spread`` first (r16 optimization pass):
    the curation composition feeds a keeper frame whose
    localCheckpoint AQE-coalesced to ONE partition (~5k rows of
    bytes), serializing the shingle/md5-banding/exact-verify compute
    on a single task — measured 8.1 s for the pair stage at sf0.1
    where the spread form runs it in ~2 s. At cluster scale the
    input already has >= cores partitions and _spread is a no-op
    (same contract as the raw-document callers, which spread the
    scan)."""
    sh = _spread(sh)
    sigs = minhash_band_sigs(sh)
    # in-bucket pair generation (one shuffle; the df/bucket cap drops
    # degenerate buckets before the quadratic step, as in
    # q_dedup_ngram_jaccard)
    buckets = (
        sigs.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs").between(2, _MINHASH_MAX_BUCKET))
    )
    # upper-triangle pair generation: element i pairs with the sorted
    # tail slice(i+2..) only, so the intermediate array is n(n-1)/2
    # structs — not n^2 with half filtered away after materializing
    # (at the 1024 bucket cap that halves worst-case per-row memory
    # and skips the wasted struct builds). The two-arg lambda is the
    # deliberate (element, index) transform form; docs is pre-sorted
    # so positional pairs are already (a < b) ordered.
    cand = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("docs"),
                        lambda x, i: F.transform(
                            F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()  # a pair may collide in several bands
    )
    # exact verify: join the shingle sets back, compute true Jaccard
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    verified = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("s_a", "s_b"))
    jac = inter / (F.size("s_a") + F.size("s_b") - inter)
    return (
        verified.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.3)
        .select("doc_a", "doc_b", "jaccard")
    )


def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: a new crawl batch against the existing
    corpus's banded-MinHash index — ``q_dedup_incremental``'s
    steady-state shape (reference scope: main.R:105 dedups one chunk
    exactly) composed with ``q_dedup_minhash_banded``'s sub-quadratic
    recall path. Exact incremental dedup misses the re-crawl reality
    that refetched pages mutate (ads, timestamps, edits); this op
    catches batch docs whose content is NEAR a corpus doc.

    Base/batch split = the ``q_dedup_incremental`` simulation (hash
    buckets [0,80) are history; buckets [80,100) are genuinely-new
    pages, and buckets [0,20) re-appear under shifted doc_ids as
    re-fetches — those land at jaccard 1.0 against their originals).
    Candidates = batch band signatures equi-joined to the base-side
    signature index on (band, sig); both sides' degenerate buckets
    are capped at ``_MINHASH_MAX_BUCKET`` (an index bucket that big
    is boilerplate, not a page); every candidate is verified with
    exact shingle Jaccard >= 0.3.

    Scale: the base side is ONLY its (doc_id, band, sig) signature
    index — 8 short rows per corpus doc, the index you persist and
    append to each increment (:mod:`twitter_etl_spark.rollup`
    ``update_minhash_rollup`` / ``probe_minhash_rollup`` are the
    operational form; a pytest pins this query row-identical to
    probe-after-absorb on the same split). The equi-join shuffles
    signatures, never text; exact verification joins shingle sets
    for CANDIDATE docs only (touched buckets), so the quadratic
    step is bounded by bucket occupancy exactly as in the one-shot
    op. History text is never re-read, let alone re-shingled."""
    from .sampling import hash_bucket

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    bk = hash_bucket(F.col("text"))
    base = d.where(bk < 80)
    batch = d.where(bk >= 80).unionAll(
        d.where(bk < 20).select(
            (F.col("doc_id") + F.lit(_INCR_RECRAWL_SHIFT)).alias("doc_id"),
            "text",
        )
    )

    tagged = base.select(
        F.lit(0).alias("role"), "doc_id", "text"
    ).unionAll(batch.select(F.lit(1).alias("role"), "doc_id", "text"))
    t = _spread(tagged.select("role", "doc_id", tokens().alias("toks")))
    sh = t.select("role", "doc_id", _shingles().alias("s")).filter(
        F.size("s") > 0
    )
    # ONE tokenize/shingle/digest pass for the whole role-tagged
    # corpus, persisted (the q_dedup_cluster discipline): the
    # signature explode and both verify sides read this frame, so
    # shingling never recomputes per reference (r10: halved the
    # fixture wall vs per-role shingle passes). The persisted row is
    # exactly the rollup's per-doc index state — band sigs + sorted
    # 16-hex digest set; verification over digest sets matches raw-
    # shingle Jaccard because the 64-bit slices are collision-free
    # at any realistic cardinality (~n^2/2^65, engine-deterministic).
    digests = _shingle_digests()
    st = (
        sh.select("role", "doc_id", digests.alias("dg"))
        .select(
            "role",
            "doc_id",
            F.array(
                *[
                    F.array_min(F.transform(F.col("dg"), _band_slice(b)))
                    for b in range(_MINHASH_BANDS)
                ]
            ).alias("sigs"),
            F.array_sort(
                F.array_distinct(
                    F.transform(F.col("dg"), lambda x: F.substring(x, 1, 16))
                )
            ).alias("sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sig = st.select(
        "role", "doc_id", F.posexplode("sigs").alias("band", "sig")
    )
    keep = (
        sig.groupBy("role", "band", "sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= _MINHASH_MAX_BUCKET)
        .select("role", "band", "sig")
    )
    sigk = sig.join(keep, ["role", "band", "sig"])
    cand = (
        sigk.filter(F.col("role") == 0)
        .select("band", "sig", F.col("doc_id").alias("doc_base"))
        .join(
            sigk.filter(F.col("role") == 1).select(
                "band", "sig", F.col("doc_id").alias("doc_batch")
            ),
            ["band", "sig"],
        )
        .select("doc_base", "doc_batch")
        .distinct()  # a pair may collide in several bands
    )
    sa = st.filter(F.col("role") == 0).select(
        F.col("doc_id").alias("doc_base"), F.col("sh").alias("sh_a")
    )
    sb = st.filter(F.col("role") == 1).select(
        F.col("doc_id").alias("doc_batch"), F.col("sh").alias("sh_b")
    )
    verified = cand.join(sa, "doc_base").join(sb, "doc_batch")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        verified.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.3)
        .select("doc_base", "doc_batch", "jaccard")
    )


def q_sim_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization (the storage/serving
    format for embedding corpora at scale — 4x smaller than float32,
    dot products stay SIMD-able): per-vector scale = max|x| / 127,
    q_i = round(x_i / scale). Pure per-row array expressions — zero
    shuffle, linear scale-out. Quantized vector emitted as a joined
    string (oracle outputs stay scalar)."""
    e = table(spark, sf_dir, "embeddings")
    scale = F.array_max(F.transform("embedding", F.abs)).cast("double") / F.lit(127.0)
    q = F.transform(
        "embedding", lambda x: F.round(x.cast("double") / F.col("scale")).cast("int")
    )
    return (
        e.withColumn("scale", scale)
        .filter(F.col("scale") > 0)
        .select(
            "vec_id",
            F.round("scale", 6).alias("qscale"),
            F.concat_ws(",", F.transform(q, lambda v: v.cast("string"))).alias(
                "qvec"
            ),
        )
    )


# IVF probe width: each query searches only its 2 nearest coarse
# cells. Recall/cost knob, never correctness (the exact twin
# q_sim_cosine_topk pins full-scan results).
_IVF_NPROBE = 2


def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor, oracle-certified end to
    end: (1) coarse quantizer = per-label centroid (one Lloyd step
    given the label assignment — the ``q_sim_centroid`` update),
    (2) every candidate vector is assigned to its nearest centroid
    (its inverted list), (3) each query probes only its
    ``_IVF_NPROBE`` nearest cells and ranks cosine top-10 within
    them.

    Scale shape: centroids are K rows — broadcast; assignment is one
    scan of the corpus (K distance evals per row, no shuffle of the
    vectors); the probe join touches only the probed cells. In a
    materialized index the assignment is precomputed and the corpus
    is PARTITIONED BY cell, so the probe join becomes partition
    pruning — probing 2 of K cells reads 2/K of the bytes. Distances
    use the ||a||²-2ab+||b||² expansion over precomputed norms, and
    centroids are rounded (avg/4) so the quantizer — and therefore
    cell membership — is bit-identical cross-engine."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )

    def dot(a, b):
        # sequential fold == DuckDB list_dot_product accumulation
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    ex = e.select("label", F.posexplode("v").alias("pos", "val"))
    cd = ex.groupBy("label", "pos").agg(F.round(F.avg("val"), 4).alias("cx"))
    cent = (
        cd.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cx"))),
                lambda s: s["cx"],
            ).alias("c")
        )
        .withColumn("cc", dot(F.col("c"), F.col("c")))
    )
    cands = (
        e.filter(F.col("vec_id") >= 5)
        .select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
        .withColumn("cvv", dot(F.col("cv"), F.col("cv")))
    )
    qs = (
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn("qvv", dot(F.col("qv"), F.col("qv")))
    )
    d2 = lambda vv, v: F.round(  # noqa: E731
        F.col(vv) - 2 * dot(F.col(v), F.col("c")) + F.col("cc"), 6
    )
    aw = Window.partitionBy("cand_id").orderBy("d2", "label")
    assign = (
        cands.crossJoin(F.broadcast(cent))
        .withColumn("d2", d2("cvv", "cv"))
        .withColumn("rk", F.row_number().over(aw))
        .filter(F.col("rk") == 1)
        .select("cand_id", "label", "cv", "cvv")
    )
    qw = Window.partitionBy("query_id").orderBy("d2", "label")
    probe = (
        qs.crossJoin(F.broadcast(cent))
        .withColumn("d2", d2("qvv", "qv"))
        .withColumn("rk", F.row_number().over(qw))
        .filter(F.col("rk") <= _IVF_NPROBE)
        .select("query_id", "label", "qv", "qvv")
    )
    scored = probe.join(assign, "label").select(
        "query_id",
        "cand_id",
        F.round(
            dot(F.col("qv"), F.col("cv"))
            / (F.sqrt(F.col("qvv")) * F.sqrt(F.col("cvv"))),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "cand_id", "cos_sim", "rk")
    )


# IVF-PQ shortlist width: the int8-scored candidate pool per query
# that survives to exact refinement. Recall/cost knob (refine reads
# L raw vectors instead of the whole probed slice), never
# correctness of the refine itself.
_IVFPQ_SHORTLIST = 30


def q_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + scalar-int8 quantized serving compose, oracle-certified
    end to end — the storage half of the 100 TB ANN layout the r10
    verdict asked for: probe scores run in INTEGER space over the
    ``q_sim_quantize`` codes, then only a short list of raw vectors
    is re-read for exact refinement (Jégou et al. 2011's
    IVFADC layout with a scalar quantizer in place of the
    codebook PQ — the certifiable variant: int8 code dot products
    are sums of |64| terms bounded by 127², exact in BOTH engines'
    doubles, so the shortlist — and therefore the refined answer —
    is bit-identical cross-engine; a trained PQ codebook would put
    k-means inside the cert, which is why the scalar quantizer is
    the certified form and codebook PQ remains the rows-only MLlib
    territory).

    Stages (one job here; build/serve split in ``index.py``):
    (1) coarse quantizer + cell assignment — identical to
    :func:`q_sim_ann_ivf` (per-label rounded centroids, nearest-cell
    by rounded squared distance);
    (2) candidate codes: per-vector symmetric int8 (scale =
    max|x|/127 — the ``q_sim_quantize`` recipe), queries quantized
    the same way;
    (3) probe: each query searches its ``_IVF_NPROBE`` cells, scores
    every candidate there as ``int_dot(qcode, ccode) * qscale *
    cscale / (|qv||cv|)`` — an approximate cosine whose integer core
    is exact — and keeps the ``_IVFPQ_SHORTLIST`` best;
    (4) refine: exact cosine on the shortlist only, top-10.

    Output carries BOTH scores (``pq_score`` approximate,
    ``cos_sim`` exact) — the audited-error column pattern: the
    quantization error is visible in every row the query returns.

    Scale shape: codes are 64 bytes + scale vs 512 bytes of doubles
    — the probed slice ships 8x fewer bytes than raw-vector IVF;
    the refine join re-reads raw vectors for |queries| x L rows
    only. In the materialized layout (``index.py``) the codes
    column lives in the cell-partitioned parquet, so the probe scan
    is partition-pruned AND column-pruned to the 64-byte codes."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    def idot(a, b):
        # integer dot: exact BIGINT accumulation in both engines
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def codes(v):
        # q_sim_quantize recipe: symmetric int8, per-vector scale
        return F.transform(
            v, lambda x: F.round(x / F.col("scale")).cast("int")
        )

    ex = e.select("label", F.posexplode("v").alias("pos", "val"))
    cd = ex.groupBy("label", "pos").agg(F.round(F.avg("val"), 4).alias("cx"))
    cent = (
        cd.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cx"))),
                lambda s: s["cx"],
            ).alias("c")
        )
        .withColumn("cc", dot(F.col("c"), F.col("c")))
    )
    cands = (
        e.filter(F.col("vec_id") >= 5)
        .select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
        .withColumn("cvv", dot(F.col("cv"), F.col("cv")))
        .withColumn(
            "scale", F.array_max(F.transform("cv", F.abs)) / F.lit(127.0)
        )
        .filter(F.col("scale") > 0)
        .withColumn("ccode", codes(F.col("cv")))
        .withColumnRenamed("scale", "cscale")
    )
    qs = (
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn("qvv", dot(F.col("qv"), F.col("qv")))
        .withColumn(
            "scale", F.array_max(F.transform("qv", F.abs)) / F.lit(127.0)
        )
        .filter(F.col("scale") > 0)
        .withColumn("qcode", codes(F.col("qv")))
        .withColumnRenamed("scale", "qscale")
    )
    d2 = lambda vv, v: F.round(  # noqa: E731
        F.col(vv) - 2 * dot(F.col(v), F.col("c")) + F.col("cc"), 6
    )
    aw = Window.partitionBy("cand_id").orderBy("d2", "label")
    assign = (
        cands.crossJoin(F.broadcast(cent))
        .withColumn("d2", d2("cvv", "cv"))
        .withColumn("rk", F.row_number().over(aw))
        .filter(F.col("rk") == 1)
        .select("cand_id", "label", "cv", "cvv", "cscale", "ccode")
    )
    qw = Window.partitionBy("query_id").orderBy("d2", "label")
    probe = (
        qs.crossJoin(F.broadcast(cent))
        .withColumn("d2", d2("qvv", "qv"))
        .withColumn("rk", F.row_number().over(qw))
        .filter(F.col("rk") <= _IVF_NPROBE)
        .select("query_id", "label", "qv", "qvv", "qscale", "qcode")
    )
    shortlist_w = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), "cand_id"
    )
    shortlist = (
        probe.join(assign, "label")
        .withColumn(
            "pq_score",
            F.round(
                idot(F.col("qcode"), F.col("ccode")).cast("double")
                * F.col("qscale")
                * F.col("cscale")
                / (F.sqrt(F.col("qvv")) * F.sqrt(F.col("cvv"))),
                6,
            ),
        )
        .withColumn("srk", F.row_number().over(shortlist_w))
        .filter(F.col("srk") <= _IVFPQ_SHORTLIST)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    return (
        shortlist.withColumn(
            "cos_sim",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.sqrt(F.col("qvv")) * F.sqrt(F.col("cvv"))),
                6,
            ),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "cand_id", "pq_score", "cos_sim", "rk")
    )


# md5-SimHash width: 60 bits = 15 hex chars — the widest md5 prefix
# that fits a signed 64-bit int exactly in BOTH engines (16 chars
# can set bit 63 and overflow the signed cast).
_SIMHASH_MD5_BITS = 60


def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-certified SimHash: identical shape to the xxhash64
    fingerprint (``q_dedup_simhash``) but the per-token hash is a
    60-bit md5 prefix, so the bit votes — and the fingerprint — are
    engine-independent and DuckDB-checkable. Emitted as a 60-char
    bit string (type-safe: no signed-overflow corner at the top
    bit). Same linear cost: one explode + one 60-vote agg."""
    d = _spread(
        table(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    )
    tok = d.select("doc_id", F.explode("toks").alias("token")).withColumn(
        "h", F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("long")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(_SIMHASH_MD5_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*votes)
    bits = F.concat(
        *[
            F.when(F.col(f"v{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(_SIMHASH_MD5_BITS - 1, -1, -1)
        ]
    )
    return per_doc.select("doc_id", bits.alias("simhash_bits"))


def _simhash_md5_sql() -> str:
    n = _SIMHASH_MD5_BITS
    votes = ", ".join(
        f"sum(CASE WHEN ((hv >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(n)
    )
    bits = " || ".join(
        f"(CASE WHEN v{i} > 0 THEN '1' ELSE '0' END)" for i in range(n - 1, -1, -1)
    )
    return (
        "WITH t AS (SELECT doc_id, "
        "unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents), "
        "h AS (SELECT doc_id, "
        "(('0x' || substr(md5(token), 1, 15))::UBIGINT)::BIGINT AS hv FROM t), "
        f"v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id) "
        f"SELECT doc_id, {bits} AS simhash_bits FROM v"
    )


def q_sample_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split is assigned by
    hashing the NORMALIZED-text digest (the dup-cluster key), not
    the document, so every copy of a duplicate lands in the same
    split — plain per-doc hashing leaks duplicated content from
    train into test, inflating eval scores. Same 80/10/10 bucketing
    as ``q_sample_split``, one per-row projection, zero shuffle."""
    from ..cleaning import clean_chain
    from .sampling import hash_bucket

    d = table(spark, sf_dir, "documents")
    digest = F.md5(clean_chain(F.col("text")))
    bucket = hash_bucket(digest)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return d.select(
        "doc_id", digest.alias("norm_digest"), split.alias("split")
    )


def q_llm_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation summary: per-split document counts after
    normalize → keep-first exact dedup → quality gate → leakage-safe
    split (:mod:`twitter_etl_spark.curation` — the whole pipeline as
    one oracle-checkable query)."""
    from ..curation import curate

    curated = curate(table(spark, sf_dir, "documents"))
    return curated.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("norm_digest").alias("n_unique"),
    )


QUERIES = {
    "q_dedup_cluster": q_dedup_cluster,
    "q_dedup_cluster_stats": q_dedup_cluster_stats,
    "q_text_corpus_stopwords": q_text_corpus_stopwords,
    "q_dedup_minhash_banded": q_dedup_minhash_banded,
    "q_dedup_minhash_incremental": q_dedup_minhash_incremental,
    "q_sim_quantize": q_sim_quantize,
    "q_sim_ann_ivf": q_sim_ann_ivf,
    "q_sim_ann_ivfpq": q_sim_ann_ivfpq,
    "q_sample_leakage_safe": q_sample_leakage_safe,
    "q_dedup_simhash_md5": q_dedup_simhash_md5,
    "q_llm_curation": q_llm_curation,
}

def _llm_curation_sql() -> str:
    from ..cleaning import sql_clean_chain
    from .sampling import _sql_bucket

    clean = sql_clean_chain("text")
    bucket = _sql_bucket("dg")
    return (
        f"WITH d AS (SELECT md5({clean}) AS dg, {clean} AS nm FROM documents), "
        # norm is identical within a digest group; min() is just a picker
        "g AS (SELECT dg, min(nm) AS nm FROM d GROUP BY dg), "
        "q AS (SELECT dg FROM g "
        "      WHERE len(string_split_regex(trim(nm), '\\s+')) >= 3), "
        f"s AS (SELECT dg, CASE WHEN {bucket} < 80 THEN 'train' "
        f"WHEN {bucket} < 90 THEN 'val' ELSE 'test' END AS split FROM q) "
        "SELECT split, count(*)::BIGINT AS n_docs, "
        "count(DISTINCT dg)::BIGINT AS n_unique FROM s GROUP BY split"
    )


def _leakage_safe_sql() -> str:
    from ..cleaning import sql_clean_chain
    from .sampling import _sql_bucket

    digest = f"md5({sql_clean_chain('text')})"
    bucket = _sql_bucket(digest)
    return (
        f"SELECT doc_id, {digest} AS norm_digest, "
        f"CASE WHEN {bucket} < 80 THEN 'train' "
        f"WHEN {bucket} < 90 THEN 'val' ELSE 'test' END AS split "
        "FROM documents"
    )


_LEAKAGE_SAFE_SQL = _leakage_safe_sql()


# The pair graph is the ngram-Jaccard oracle verbatim (single source
# of truth for the edge set), wrapped as a CTE; components then come
# from a recursive label-spread CTE — DuckDB's UNION-dedup
# fixpoint terminates because (node, lab) pairs are finite.
_PAIRS_CTE = "(" + _DEDUP_ORACLE["q_dedup_ngram_jaccard"] + ")"

_CC_SQL = (
    "WITH RECURSIVE pairs AS " + _PAIRS_CTE + ", "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
    "          UNION ALL SELECT doc_b, doc_a FROM pairs), "
    "nodes AS (SELECT DISTINCT src AS node FROM edges), "
    "reach(node, lab) AS ("
    "  SELECT node, node FROM nodes "
    "  UNION "
    "  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node) "
    "SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node"
)

ORACLE = {
    "q_dedup_cluster": _CC_SQL,
    "q_dedup_cluster_stats": (
        "WITH cc AS (" + _CC_SQL + ") "
        "SELECT cluster_id, count(*)::BIGINT AS cluster_size, "
        "(count(*) - 1)::BIGINT AS n_dropped FROM cc GROUP BY cluster_id"
    ),
    "q_dedup_minhash_banded": (
        "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks "
        "           FROM documents), "
        "sh AS (SELECT doc_id, list_distinct(list_transform("
        "  range(1, greatest(len(toks) - 2, 0) + 1), "
        "  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM t), "
        "shf AS (SELECT * FROM sh WHERE len(s) > 0), "
        "sig AS (SELECT doc_id, band, "
        "  list_min(list_transform(s, x -> substr(md5('0|' || x) || md5('1|' || x), "
        "  (band * 8 + 1)::INT, 8))) AS sig_v "
        "  FROM shf, (SELECT unnest(range(8)) AS band) bands), "
        # same degenerate-bucket cap as the Spark side
        "keep AS (SELECT band, sig_v FROM sig GROUP BY band, sig_v "
        "         HAVING count(*) BETWEEN 2 AND 1024), "
        "sigk AS (SELECT sig.* FROM sig JOIN keep USING (band, sig_v)), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "  FROM sigk a JOIN sigk b "
        "  ON a.band = b.band AND a.sig_v = b.sig_v AND a.doc_id < b.doc_id), "
        "v AS (SELECT doc_a, doc_b, len(list_intersect(sa.s, sb.s)) AS n_i, "
        "  len(sa.s) AS n_a, len(sb.s) AS n_b FROM cand "
        "  JOIN shf sa ON sa.doc_id = cand.doc_a "
        "  JOIN shf sb ON sb.doc_id = cand.doc_b) "
        "SELECT doc_a, doc_b, round(n_i * 1.0 / (n_a + n_b - n_i), 6) AS jaccard "
        "FROM v WHERE round(n_i * 1.0 / (n_a + n_b - n_i), 6) >= 0.3"
    ),
    "q_dedup_minhash_incremental": (
        # base/batch simulation = dedup.py's q_dedup_incremental
        # oracle; signature/band/verify machinery = the banded oracle
        # above with role-split bucket caps (<= 1024 each side, no
        # lower bound: 1 base + 1 batch doc IS a candidate pair)
        "WITH b0 AS (SELECT doc_id, text, "
        "  (('0x' || substr(md5(text), 1, 8))::UBIGINT % 100) AS bk "
        "  FROM documents), "
        "ab AS ("
        "  SELECT doc_id, text, 0 AS is_batch FROM b0 WHERE bk < 80 "
        "  UNION ALL SELECT doc_id, text, 1 FROM b0 WHERE bk >= 80 "
        "  UNION ALL SELECT doc_id + 1000000, text, 1 FROM b0 WHERE bk < 20), "
        "t AS (SELECT doc_id, is_batch, "
        "  string_split_regex(trim(text), '\\s+') AS toks FROM ab), "
        "sh AS (SELECT doc_id, is_batch, list_distinct(list_transform("
        "  range(1, greatest(len(toks) - 2, 0) + 1), "
        "  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM t), "
        "shf AS (SELECT * FROM sh WHERE len(s) > 0), "
        "sig AS (SELECT doc_id, is_batch, band, "
        "  list_min(list_transform(s, x -> substr(md5('0|' || x) || md5('1|' || x), "
        "  (band * 8 + 1)::INT, 8))) AS sig_v "
        "  FROM shf, (SELECT unnest(range(8)) AS band) bands), "
        "kb AS (SELECT band, sig_v FROM sig WHERE is_batch = 0 "
        "  GROUP BY band, sig_v HAVING count(*) <= 1024), "
        "kn AS (SELECT band, sig_v FROM sig WHERE is_batch = 1 "
        "  GROUP BY band, sig_v HAVING count(*) <= 1024), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_base, b.doc_id AS doc_batch "
        "  FROM sig a "
        "  JOIN kb ON a.band = kb.band AND a.sig_v = kb.sig_v "
        "  JOIN sig b ON a.band = b.band AND a.sig_v = b.sig_v "
        "  JOIN kn ON b.band = kn.band AND b.sig_v = kn.sig_v "
        "  WHERE a.is_batch = 0 AND b.is_batch = 1), "
        "v AS (SELECT doc_base, doc_batch, "
        "  len(list_intersect(sa.s, sb.s)) AS n_i, "
        "  len(sa.s) AS n_a, len(sb.s) AS n_b FROM cand "
        "  JOIN shf sa ON sa.doc_id = cand.doc_base AND sa.is_batch = 0 "
        "  JOIN shf sb ON sb.doc_id = cand.doc_batch AND sb.is_batch = 1) "
        "SELECT doc_base, doc_batch, "
        "round(n_i * 1.0 / (n_a + n_b - n_i), 6) AS jaccard "
        "FROM v WHERE round(n_i * 1.0 / (n_a + n_b - n_i), 6) >= 0.3"
    ),
    "q_sim_ann_ivf": (
        "WITH e AS (SELECT vec_id, label, "
        "  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
        "ex AS (SELECT label, UNNEST(v) AS val, "
        "  UNNEST(range(1, len(v) + 1)) AS pos FROM e), "
        "cd AS (SELECT label, pos, round(avg(val), 4) AS cx "
        "  FROM ex GROUP BY label, pos), "
        "cent AS (SELECT label, list(cx ORDER BY pos) AS c FROM cd GROUP BY label), "
        "cent2 AS (SELECT label, c, list_dot_product(c, c) AS cc FROM cent), "
        "cands AS (SELECT vec_id AS cand_id, v AS cv, "
        "  list_dot_product(v, v) AS cvv FROM e WHERE vec_id >= 5), "
        "qs AS (SELECT vec_id AS query_id, v AS qv, "
        "  list_dot_product(v, v) AS qvv FROM e WHERE vec_id < 5), "
        "assign AS (SELECT cand_id, label, cv, cvv FROM ("
        "  SELECT cands.cand_id, cent2.label, cands.cv, cands.cvv, "
        "  row_number() OVER (PARTITION BY cands.cand_id ORDER BY "
        "    round(cvv - 2 * list_dot_product(cv, c) + cc, 6), cent2.label) AS rk "
        "  FROM cands CROSS JOIN cent2) WHERE rk = 1), "
        "probe AS (SELECT query_id, label, qv, qvv FROM ("
        "  SELECT qs.query_id, cent2.label, qs.qv, qs.qvv, "
        "  row_number() OVER (PARTITION BY qs.query_id ORDER BY "
        "    round(qvv - 2 * list_dot_product(qv, c) + cc, 6), cent2.label) AS rk "
        "  FROM qs CROSS JOIN cent2) WHERE rk <= 2), "
        "scored AS (SELECT query_id, cand_id, "
        "  round(list_dot_product(qv, cv) / (sqrt(qvv) * sqrt(cvv)), 6) AS cos_sim "
        "  FROM probe JOIN assign USING (label)) "
        "SELECT query_id, cand_id, cos_sim, rk FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rk "
        "  FROM scored) WHERE rk <= 10"
    ),
    "q_sim_ann_ivfpq": (
        "WITH e AS (SELECT vec_id, label, "
        "  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
        "ex AS (SELECT label, UNNEST(v) AS val, "
        "  UNNEST(range(1, len(v) + 1)) AS pos FROM e), "
        "cd AS (SELECT label, pos, round(avg(val), 4) AS cx "
        "  FROM ex GROUP BY label, pos), "
        "cent AS (SELECT label, list(cx ORDER BY pos) AS c FROM cd GROUP BY label), "
        "cent2 AS (SELECT label, c, list_dot_product(c, c) AS cc FROM cent), "
        "cands AS (SELECT vec_id AS cand_id, v AS cv, "
        "  list_dot_product(v, v) AS cvv, "
        "  list_max(list_transform(v, x -> abs(x))) / 127.0 AS cscale "
        "  FROM e WHERE vec_id >= 5), "
        "cands2 AS (SELECT *, "
        "  list_transform(cv, x -> round(x / cscale)) AS ccode "
        "  FROM cands WHERE cscale > 0), "
        "qs AS (SELECT vec_id AS query_id, v AS qv, "
        "  list_dot_product(v, v) AS qvv, "
        "  list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale "
        "  FROM e WHERE vec_id < 5), "
        "qs2 AS (SELECT *, "
        "  list_transform(qv, x -> round(x / qscale)) AS qcode "
        "  FROM qs WHERE qscale > 0), "
        "assign AS (SELECT cand_id, label, cv, cvv, cscale, ccode FROM ("
        "  SELECT cands2.*, cent2.label, row_number() OVER ("
        "    PARTITION BY cand_id ORDER BY "
        "    round(cvv - 2 * list_dot_product(cv, c) + cc, 6), cent2.label) AS rk "
        "  FROM cands2 CROSS JOIN cent2) WHERE rk = 1), "
        "probe AS (SELECT query_id, label, qv, qvv, qscale, qcode FROM ("
        "  SELECT qs2.*, cent2.label, row_number() OVER ("
        "    PARTITION BY query_id ORDER BY "
        "    round(qvv - 2 * list_dot_product(qv, c) + cc, 6), cent2.label) AS rk "
        "  FROM qs2 CROSS JOIN cent2) WHERE rk <= 2), "
        # int8-code dot products are exact integer-valued doubles
        # (<= 64 * 127^2), so pq_score is bit-identical cross-engine
        "sl AS (SELECT query_id, cand_id, qv, cv, qvv, cvv, "
        "  round(list_dot_product(qcode, ccode) * qscale * cscale "
        "    / (sqrt(qvv) * sqrt(cvv)), 6) AS pq_score "
        "  FROM probe JOIN assign USING (label)), "
        "sl2 AS (SELECT * FROM (SELECT *, row_number() OVER ("
        "  PARTITION BY query_id ORDER BY pq_score DESC, cand_id) AS srk "
        "  FROM sl) WHERE srk <= 30) "
        "SELECT query_id, cand_id, pq_score, cos_sim, rk FROM ("
        "  SELECT query_id, cand_id, pq_score, "
        "  round(list_dot_product(qv, cv) / (sqrt(qvv) * sqrt(cvv)), 6) AS cos_sim, "
        "  row_number() OVER (PARTITION BY query_id ORDER BY "
        "    round(list_dot_product(qv, cv) / (sqrt(qvv) * sqrt(cvv)), 6) DESC, "
        "    cand_id) AS rk "
        "  FROM sl2) WHERE rk <= 10"
    ),
    "q_sim_quantize": (
        "WITH s AS (SELECT vec_id, embedding, "
        "  list_max(list_transform(embedding, x -> abs(x)))::DOUBLE / 127.0 AS scale "
        "  FROM embeddings) "
        "SELECT vec_id, round(scale, 6) AS qscale, "
        "array_to_string(list_transform(embedding, "
        "  x -> round(x::DOUBLE / scale)::INT), ',') AS qvec "
        "FROM s WHERE scale > 0"
    ),
    "q_sample_leakage_safe": _LEAKAGE_SAFE_SQL,
    "q_dedup_simhash_md5": _simhash_md5_sql(),
    "q_llm_curation": _llm_curation_sql(),
    "q_text_corpus_stopwords": (
        "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks "
        "           FROM documents), "
        "ex AS (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t), "
        "dfreq AS (SELECT token, count(*) AS df FROM ex GROUP BY token), "
        "n AS (SELECT count(*) AS n_docs FROM documents), "
        "stop AS (SELECT coalesce(list_sort(list(token)), []) AS s "
        "         FROM dfreq, n WHERE df > 0.5 * n_docs) "
        # stop is a single row; cross join it in (DuckDB lambdas may
        # reference correlated columns but not subqueries)
        # DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
        "SELECT doc_id, coalesce("
        "array_to_string(list_filter(toks, x -> NOT list_contains(s, x)), ' '), "
        "'') AS scrubbed_text, len(s)::INT AS n_stopwords FROM t, stop"
    ),
}


def q_llm_curation_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation WITH the semantic-dedup stage composed in
    (r14 verdict #2 — the first cross-family composition, documents ×
    embeddings): normalize → keep-first exact dedup →
    **semantic dedup** (``q_dedup_semantic_adaptive``'s keep flags
    joined on the keeper's doc_id ↔ vec_id; judged duplicates drop) →
    quality gate → leakage-safe split, with per-stage drop accounting
    as the output: one (stage, n_docs) row per funnel stage, so the
    audit a real pretraining job logs IS the certified query.

    Plan shape (the 100 TB question): the exact-dedup hash agg
    carries the group size, so the input count needs NO second scan
    of documents; the semantic stage is the certified adaptive
    pipeline (occupancy-bounded pair scan) plus ONE equi-join on an
    8-byte key; the funnel is a single global agg over flag columns
    unpivoted by ``stack`` — seven 1-row counters, not seven jobs.
    """
    from ..cleaning import clean_chain
    from ..curation import MIN_TOKENS
    from .sampling import hash_bucket
    from .similarity import q_dedup_semantic_adaptive

    d = table(spark, sf_dir, "documents")
    norm = clean_chain(F.col("text"))
    g = (
        d.select("doc_id", F.md5(norm).alias("dg"), norm.alias("nm"))
        .groupBy("dg")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("nm").alias("nm"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    sem = q_dedup_semantic_adaptive(spark, sf_dir).select(
        F.col("vec_id").alias("__sk_id"), F.col("kept").alias("__sk_kept")
    )
    bucket = hash_bucket(F.col("dg"))
    s = (
        g.join(sem, g.doc_id == F.col("__sk_id"), "left")
        .withColumn("sem_kept", F.coalesce("__sk_kept", F.lit(1)).cast("bigint"))
        .withColumn(
            "q_ok",
            F.col("sem_kept")
            * (F.size(F.split(F.trim("nm"), r"\s+")) >= MIN_TOKENS).cast("bigint"),
        )
        .withColumn(
            "split",
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
        )
    )
    one = s.agg(
        F.sum("cnt").alias("n_input"),
        F.count(F.lit(1)).alias("n_exact"),
        F.sum("sem_kept").alias("n_sem"),
        F.sum("q_ok").alias("n_q"),
        *[
            F.sum(((F.col("split") == sp) & (F.col("q_ok") == 1)).cast("bigint")).alias(
                f"n_{sp}"
            )
            for sp in ("train", "val", "test")
        ],
    )
    return one.selectExpr(
        "stack(7, "
        "'input', n_input, 'exact_dedup', n_exact, 'semantic_dedup', n_sem, "
        "'quality', n_q, 'split_train', n_train, 'split_val', n_val, "
        "'split_test', n_test) AS (stage, n_docs)"
    )


QUERIES["q_llm_curation_semantic"] = q_llm_curation_semantic


def _llm_curation_semantic_sql() -> str:
    from ..cleaning import sql_clean_chain
    from .sampling import _sql_bucket
    from .similarity import ORACLE as _SIM_ORACLE

    clean = sql_clean_chain("text")
    bucket = _sql_bucket("dg")
    return (
        "WITH sem AS (" + _SIM_ORACLE["q_dedup_semantic_adaptive"] + "), "
        f"d AS (SELECT doc_id, md5({clean}) AS dg, {clean} AS nm FROM documents), "
        "g AS (SELECT dg, min(doc_id) AS doc_id, min(nm) AS nm, "
        "      count(*)::BIGINT AS cnt FROM d GROUP BY dg), "
        "s AS (SELECT g.*, coalesce(sem.kept, 1)::BIGINT AS sem_kept, "
        "  coalesce(sem.kept, 1)::BIGINT * (CASE WHEN "
        "  len(string_split_regex(trim(g.nm), '\\s+')) >= 3 THEN 1 ELSE 0 END) AS q_ok, "
        f"  CASE WHEN {bucket} < 80 THEN 'train' WHEN {bucket} < 90 THEN 'val' "
        "  ELSE 'test' END AS split "
        "  FROM g LEFT JOIN sem ON sem.vec_id = g.doc_id), "
        "a AS (SELECT sum(cnt)::BIGINT AS n_input, count(*)::BIGINT AS n_exact, "
        "  sum(sem_kept)::BIGINT AS n_sem, sum(q_ok)::BIGINT AS n_q, "
        "  sum(CASE WHEN split = 'train' AND q_ok = 1 THEN 1 ELSE 0 END)::BIGINT AS n_train, "
        "  sum(CASE WHEN split = 'val' AND q_ok = 1 THEN 1 ELSE 0 END)::BIGINT AS n_val, "
        "  sum(CASE WHEN split = 'test' AND q_ok = 1 THEN 1 ELSE 0 END)::BIGINT AS n_test "
        "  FROM s) "
        "SELECT 'input' AS stage, n_input AS n_docs FROM a "
        "UNION ALL SELECT 'exact_dedup', n_exact FROM a "
        "UNION ALL SELECT 'semantic_dedup', n_sem FROM a "
        "UNION ALL SELECT 'quality', n_q FROM a "
        "UNION ALL SELECT 'split_train', n_train FROM a "
        "UNION ALL SELECT 'split_val', n_val FROM a "
        "UNION ALL SELECT 'split_test', n_test FROM a"
    )


ORACLE["q_llm_curation_semantic"] = _llm_curation_semantic_sql()


def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall audit — "measure, don't guess" as a first-class
    certified query: per query vector, recall@10 of the IVF 2-probe
    result (``q_sim_ann_ivf``) against the exact cosine top-10
    (``q_sim_cosine_topk``), in integer basis points. The number an
    ANN deployment monitors when it tunes nprobe/nlist; composing
    the two certified queries means the audit itself is
    oracle-checked, not eyeballed.

    Plan: both inputs are the certified sub-plans (broadcast-query
    exact scan; partition-pruned IVF probe); the audit adds one
    equi-join on (query_id, cand_id) — O(queries × k) rows — and a
    per-query hash agg. recall_bp = half-away integer division
    (the r15 nb_score convention), so the output is all-BIGINT."""
    from .similarity import q_sim_cosine_topk

    exact = q_sim_cosine_topk(spark, sf_dir).select("query_id", "cand_id")
    ann = (
        q_sim_ann_ivf(spark, sf_dir)
        .select("query_id", "cand_id")
        .withColumn("hit", F.lit(1))
    )
    j = exact.join(ann, ["query_id", "cand_id"], "left")
    per = j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
    )
    return per.select(
        "query_id",
        "n_exact",
        "n_hits",
        F.expr("(2 * 10000 * n_hits + n_exact) DIV (2 * n_exact)").alias(
            "recall_bp"
        ),
    )


QUERIES["q_sim_ivf_recall"] = q_sim_ivf_recall


def _ivf_recall_sql() -> str:
    from .similarity import ORACLE as _SIM_ORACLE

    return (
        "WITH ex AS (" + _SIM_ORACLE["q_sim_cosine_topk"] + "), "
        "ann AS (" + ORACLE["q_sim_ann_ivf"] + "), "
        "j AS (SELECT ex.query_id, ex.cand_id, "
        "  CASE WHEN ann.cand_id IS NULL THEN 0 ELSE 1 END AS hit "
        "  FROM ex LEFT JOIN ann ON ex.query_id = ann.query_id "
        "  AND ex.cand_id = ann.cand_id) "
        "SELECT query_id, count(*)::BIGINT AS n_exact, "
        "sum(hit)::BIGINT AS n_hits, "
        "((2 * 10000 * sum(hit) + count(*)) // (2 * count(*)))::BIGINT "
        "AS recall_bp FROM j GROUP BY query_id"
    )


ORACLE["q_sim_ivf_recall"] = _ivf_recall_sql()


def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup recall audit — the dedup-family twin of
    ``q_sim_ivf_recall``: how much of the EXACT n-gram-Jaccard pair
    set (``q_dedup_ngram_jaccard``, threshold 0.3) the banded
    MinHash candidate generator (``q_dedup_minhash_banded``)
    recovers. Banded LSH trades recall for never-all-pairs; this op
    makes the trade a measured, oracle-certified number instead of a
    docstring claim — the knob-tuning readout for (bands, rows,
    df-cap). Output: one row (n_exact, n_found, recall_bp).

    Plan: both inputs are the certified sub-plans; the audit is one
    equi-join on the (doc_a, doc_b) pair key + a 1-row agg (bounded:
    pair sets are df-capped). Integer basis points via half-away
    DIV.

    r17 optimization pass (settling the r16 verdict's unconfirmed
    win): the r16 token-checkpoint sharing was REVERTED. Cold-JVM
    interleaved A/B at sf0.1 (best-of-3, identical output): r16
    token-sharing 5.98 s vs plain composition of the two certified
    sub-plans 4.61 s (cold first-rep 17.3 vs 9.4 s) — the driver's
    r16 numbers (5.85 s vs the 5.54 s pre-rewrite baseline) showed
    the same thing. The checkpoint materialization costs more than
    the recompute it saves here because Spark already de-duplicates
    the identical scan+tokenize subtrees within the one composed
    plan, and the materialization barrier breaks that sharing."""
    from .dedup import q_dedup_ngram_jaccard

    exact = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    banded = (
        q_dedup_minhash_banded(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("hit", F.lit(1))
    )
    j = exact.join(banded, ["doc_a", "doc_b"], "left")
    return j.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_found"),
    ).selectExpr(
        "n_exact",
        "n_found",
        "(2 * 10000 * n_found + n_exact) DIV (2 * n_exact) AS recall_bp",
    )


QUERIES["q_dedup_minhash_recall"] = q_dedup_minhash_recall

ORACLE["q_dedup_minhash_recall"] = (
    "WITH ex AS (" + _DEDUP_ORACLE["q_dedup_ngram_jaccard"] + "), "
    "bd AS (" + ORACLE["q_dedup_minhash_banded"] + "), "
    "j AS (SELECT ex.doc_a, ex.doc_b, "
    "  CASE WHEN bd.doc_a IS NULL THEN 0 ELSE 1 END AS hit "
    "  FROM ex LEFT JOIN bd ON ex.doc_a = bd.doc_a "
    "  AND ex.doc_b = bd.doc_b) "
    "SELECT count(*)::BIGINT AS n_exact, sum(hit)::BIGINT AS n_found, "
    "((2 * 10000 * sum(hit) + count(*)) // (2 * count(*)))::BIGINT "
    "AS recall_bp FROM j"
)


def _keeper_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup keepers (dg, doc_id, nm, cnt) — stage 1+2 of the
    curation funnel, shared by the composed funnels. One hash-agg
    shuffle on the 32-byte digest; cnt carries the group size so the
    input count needs no second documents scan."""
    from ..cleaning import clean_chain

    d = table(spark, sf_dir, "documents")
    norm = clean_chain(F.col("text"))
    return (
        d.select("doc_id", F.md5(norm).alias("dg"), norm.alias("nm"))
        .groupBy("dg")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("nm").alias("nm"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def _neardup_clusters(g: DataFrame) -> DataFrame:
    """(node, cluster_id) near-dup components over a keeper frame's
    NORMALIZED text: 3-gram shingles -> banded-MinHash candidates +
    exact-Jaccard verify (:func:`minhash_banded_pairs`) ->
    ``graph.components``. Only docs participating in at least
    one verified pair appear; the cluster canonical is the component
    min doc_id."""
    from .dedup import _shingles
    from .graph import components

    # NOTE (r16 optimization pass): the shingle frame is spread
    # inside minhash_banded_pairs, and deliberately NOT here — that
    # repartition exchange sits directly under the three consumers
    # (band sigs + both verify sides), so Spark's ReusedExchange
    # runs the tokenize+shingle map side ONCE and re-reads the
    # shuffle files; spreading the keeper frame above the shingle
    # projection instead was A/B'd WORSE (7.4 s vs 5.8 s) because it
    # forfeits that reuse and recomputes the shingles per consumer.
    sh = g.select(
        "doc_id", F.split(F.trim("nm"), r"\s+").alias("toks")
    ).select("doc_id", _shingles().alias("s")).filter(F.size("s") > 0)
    pairs = minhash_banded_pairs(sh).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    return components(pairs, caller="q_llm_curation_neardup")


def neardup_keep_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, kept) lexical near-dup judgment over the exact-dedup
    keepers — the frame ``curation.curate(neardup_keep=...)``
    consumes (the lexical twin of the semantic keep flags). kept = 0
    iff the keeper sits in a verified near-dup cluster and is not
    its canonical (min doc_id) member."""
    g = _keeper_frame(spark, sf_dir)
    cc = _neardup_clusters(g)
    return g.join(cc, g.doc_id == cc.node, "left").select(
        "doc_id",
        F.when(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("node")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("kept"),
    )


def q_llm_curation_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation with BOTH dedup stages composed in — the
    full pretraining funnel (r15 verdict #2): normalize -> keep-first
    exact dedup -> **lexical near-dup dedup** (banded MinHash over
    the keepers' normalized text, verified Jaccard >= 0.3, cluster
    keeper = component min doc_id via ``graph.components``) ->
    **semantic dedup** (``q_dedup_semantic_adaptive`` keep flags,
    vec_id <-> doc_id) -> quality gate -> leakage-safe split.
    Output: one (stage, n_docs) row per funnel stage — the 8-row
    drop-accounting audit a real pretraining job logs.

    Plan shape (the 100 TB question): stage 2 is one hash agg on the
    digest; the near-dup stage is the certified sub-quadratic banded
    machinery (bucket join + df caps, never all-pairs) plus
    ``graph.components`` over the VERIFIED pair set only; the semantic stage
    is the certified occupancy-bounded adaptive pipeline plus one
    8-byte equi-join; the funnel is one global agg unpivoted by
    ``stack`` — eight 1-row counters, not eight jobs. The keeper
    frame is localCheckpointed once: it feeds both the shingle
    pipeline and the funnel join (the r14 double-consumer lesson),
    and the checkpoint fences the iterative CC consumer's lineage.

    sf1 posture (the q_geo_dbscan precedent): hash-certified vs the
    DuckDB oracle at sf0.001/0.01/0.1; at the sf1 decade the
    ORACLE's recursive label-spread CTE is O(|component|² · degree)
    reachability pairs and the replica corpus MERGES near-dup
    components across replicas (3-gram shingles survive the 16-token
    markers at Jaccard ≈ 0.65), making the fixpoint prohibitive
    (killed after 60 min; the Spark side finishes in minutes). The
    sf1 contract is therefore Spark-side: star-component labels
    equal an independent union-find over the same verified pair set
    and the funnel counts recompute from those labels exactly
    (tests/test_round16_ops.py pins the equivalence; SCALE.md r16
    records the sf1 run).
    """
    from ..curation import MIN_TOKENS
    from .sampling import hash_bucket
    from .similarity import q_dedup_semantic_adaptive

    g = _keeper_frame(spark, sf_dir).localCheckpoint()
    cc = _neardup_clusters(g)
    sem = q_dedup_semantic_adaptive(spark, sf_dir).select(
        F.col("vec_id").alias("__sk_id"), F.col("kept").alias("__sk_kept")
    )
    bucket = hash_bucket(F.col("dg"))
    s = (
        g.join(cc, g.doc_id == cc.node, "left")
        .withColumn(
            "nd_kept",
            F.when(
                F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col("node")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .join(sem, F.col("doc_id") == F.col("__sk_id"), "left")
        .withColumn(
            "sem_kept",
            F.col("nd_kept")
            * F.coalesce("__sk_kept", F.lit(1)).cast("bigint"),
        )
        .withColumn(
            "q_ok",
            F.col("sem_kept")
            * (
                F.size(F.split(F.trim("nm"), r"\s+")) >= MIN_TOKENS
            ).cast("bigint"),
        )
        .withColumn(
            "split",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test"),
        )
    )
    one = s.agg(
        F.sum("cnt").alias("n_input"),
        F.count(F.lit(1)).alias("n_exact"),
        F.sum("nd_kept").alias("n_nd"),
        F.sum("sem_kept").alias("n_sem"),
        F.sum("q_ok").alias("n_q"),
        *[
            F.sum(
                ((F.col("split") == sp) & (F.col("q_ok") == 1)).cast("bigint")
            ).alias(f"n_{sp}")
            for sp in ("train", "val", "test")
        ],
    )
    return one.selectExpr(
        "stack(8, "
        "'input', n_input, 'exact_dedup', n_exact, 'neardup_dedup', n_nd, "
        "'semantic_dedup', n_sem, 'quality', n_q, 'split_train', n_train, "
        "'split_val', n_val, 'split_test', n_test) AS (stage, n_docs)"
    )


QUERIES["q_llm_curation_neardup"] = q_llm_curation_neardup


def _llm_curation_neardup_sql() -> str:
    from ..cleaning import sql_clean_chain
    from .sampling import _sql_bucket
    from .similarity import ORACLE as _SIM_ORACLE

    clean = sql_clean_chain("text")
    bucket = _sql_bucket("dg")
    return (
        "WITH RECURSIVE sem AS ("
        + _SIM_ORACLE["q_dedup_semantic_adaptive"]
        + "), "
        f"d AS (SELECT doc_id, md5({clean}) AS dg, {clean} AS nm FROM documents), "
        "g AS (SELECT dg, min(doc_id) AS doc_id, min(nm) AS nm, "
        "      count(*)::BIGINT AS cnt FROM d GROUP BY dg), "
        # near-dup stage over the keepers' normalized text: the
        # q_dedup_minhash_banded oracle machinery, FROM g
        "t AS (SELECT doc_id, string_split_regex(trim(nm), '\\s+') AS toks "
        "      FROM g), "
        "sh AS (SELECT doc_id, list_distinct(list_transform("
        "  range(1, greatest(len(toks) - 2, 0) + 1), "
        "  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM t), "
        "shf AS (SELECT * FROM sh WHERE len(s) > 0), "
        "sig AS (SELECT doc_id, band, "
        "  list_min(list_transform(s, x -> substr(md5('0|' || x) || md5('1|' || x), "
        "  (band * 8 + 1)::INT, 8))) AS sig_v "
        "  FROM shf, (SELECT unnest(range(8)) AS band) bands), "
        "keep AS (SELECT band, sig_v FROM sig GROUP BY band, sig_v "
        "         HAVING count(*) BETWEEN 2 AND 1024), "
        "sigk AS (SELECT sig.* FROM sig JOIN keep USING (band, sig_v)), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "  FROM sigk a JOIN sigk b "
        "  ON a.band = b.band AND a.sig_v = b.sig_v AND a.doc_id < b.doc_id), "
        "vj AS (SELECT doc_a, doc_b, len(list_intersect(sa.s, sb.s)) AS n_i, "
        "  len(sa.s) AS n_a, len(sb.s) AS n_b FROM cand "
        "  JOIN shf sa ON sa.doc_id = cand.doc_a "
        "  JOIN shf sb ON sb.doc_id = cand.doc_b), "
        "pairs AS (SELECT doc_a, doc_b FROM vj "
        "  WHERE round(n_i * 1.0 / (n_a + n_b - n_i), 6) >= 0.3), "
        # connected components: recursive label-spread, the _CC_SQL
        # pattern over the verified pair set
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "          UNION ALL SELECT doc_b, doc_a FROM pairs), "
        "nodes AS (SELECT DISTINCT src AS node FROM edges), "
        "reach(node, lab) AS ("
        "  SELECT node, node FROM nodes "
        "  UNION "
        "  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node), "
        "cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node), "
        "s AS (SELECT g.*, "
        "  CASE WHEN cc.cluster_id IS NULL OR cc.cluster_id = g.doc_id "
        "       THEN 1 ELSE 0 END AS nd_kept, "
        "  (CASE WHEN cc.cluster_id IS NULL OR cc.cluster_id = g.doc_id "
        "       THEN 1 ELSE 0 END) * coalesce(sem.kept, 1)::BIGINT AS sem_kept, "
        f"  CASE WHEN {bucket} < 80 THEN 'train' WHEN {bucket} < 90 THEN 'val' "
        "  ELSE 'test' END AS split "
        "  FROM g LEFT JOIN cc ON cc.node = g.doc_id "
        "  LEFT JOIN sem ON sem.vec_id = g.doc_id), "
        "s2 AS (SELECT s.*, sem_kept * (CASE WHEN "
        "  len(string_split_regex(trim(s.nm), '\\s+')) >= 3 THEN 1 ELSE 0 END) "
        "  AS q_ok FROM s), "
        "a AS (SELECT sum(cnt)::BIGINT AS n_input, count(*)::BIGINT AS n_exact, "
        "  sum(nd_kept)::BIGINT AS n_nd, sum(sem_kept)::BIGINT AS n_sem, "
        "  sum(q_ok)::BIGINT AS n_q, "
        "  sum(CASE WHEN split = 'train' AND q_ok = 1 THEN 1 ELSE 0 END)::BIGINT AS n_train, "
        "  sum(CASE WHEN split = 'val' AND q_ok = 1 THEN 1 ELSE 0 END)::BIGINT AS n_val, "
        "  sum(CASE WHEN split = 'test' AND q_ok = 1 THEN 1 ELSE 0 END)::BIGINT AS n_test "
        "  FROM s2) "
        "SELECT 'input' AS stage, n_input AS n_docs FROM a "
        "UNION ALL SELECT 'exact_dedup', n_exact FROM a "
        "UNION ALL SELECT 'neardup_dedup', n_nd FROM a "
        "UNION ALL SELECT 'semantic_dedup', n_sem FROM a "
        "UNION ALL SELECT 'quality', n_q FROM a "
        "UNION ALL SELECT 'split_train', n_train FROM a "
        "UNION ALL SELECT 'split_val', n_val FROM a "
        "UNION ALL SELECT 'split_test', n_test FROM a"
    )


ORACLE["q_llm_curation_neardup"] = _llm_curation_neardup_sql()


def q_sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-ANN recall audit (r15 verdict #3 — closes the audit
    family: IVF r15, near-dup r15, PQ here): per query vector,
    recall@10 of the IVF+int8-ADC shortlist-then-refine pipeline
    (``q_sim_ann_ivfpq`` — shortlist in integer code space, exact
    cosine refine) against the exact cosine top-10
    (``q_sim_cosine_topk``), in integer basis points. This turns the
    shortlist-depth trade documented in SCALE.md prose into a
    certified number — the readout a deployment watches when tuning
    ``_IVFPQ_SHORTLIST``/``_IVF_NPROBE``.

    Plan: both inputs are certified sub-plans; the audit adds one
    equi-join on (query_id, cand_id) — O(queries × k) rows — and a
    per-query hash agg; recall_bp = half-away integer DIV (the
    nb_score convention), all-BIGINT output."""
    from .similarity import q_sim_cosine_topk

    exact = q_sim_cosine_topk(spark, sf_dir).select("query_id", "cand_id")
    ann = (
        q_sim_ann_ivfpq(spark, sf_dir)
        .select("query_id", "cand_id")
        .withColumn("hit", F.lit(1))
    )
    j = exact.join(ann, ["query_id", "cand_id"], "left")
    per = j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
    )
    return per.select(
        "query_id",
        "n_exact",
        "n_hits",
        F.expr("(2 * 10000 * n_hits + n_exact) DIV (2 * n_exact)").alias(
            "recall_bp"
        ),
    )


QUERIES["q_sim_pq_recall"] = q_sim_pq_recall


def _pq_recall_sql() -> str:
    from .similarity import ORACLE as _SIM_ORACLE

    return (
        "WITH ex AS (" + _SIM_ORACLE["q_sim_cosine_topk"] + "), "
        "ann AS (" + ORACLE["q_sim_ann_ivfpq"] + "), "
        "j AS (SELECT ex.query_id, ex.cand_id, "
        "  CASE WHEN ann.cand_id IS NULL THEN 0 ELSE 1 END AS hit "
        "  FROM ex LEFT JOIN ann ON ex.query_id = ann.query_id "
        "  AND ex.cand_id = ann.cand_id) "
        "SELECT query_id, count(*)::BIGINT AS n_exact, "
        "sum(hit)::BIGINT AS n_hits, "
        "((2 * 10000 * sum(hit) + count(*)) // (2 * count(*)))::BIGINT "
        "AS recall_bp FROM j GROUP BY query_id"
    )


ORACLE["q_sim_pq_recall"] = _pq_recall_sql()
