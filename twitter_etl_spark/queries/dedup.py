"""Deduplication operators for training-data pipelines (SURVEY.md §2.6).

Scale design, per operator:

- **Exact / normalized dedup**: one hash-agg shuffle keyed on the
  (normalized) text. At 100 TB you key on a digest (md5) instead of
  the raw text to keep shuffle rows small — the normalized variant
  does exactly that. Viral-duplicate skew is handled by AQE skew
  splitting (the reference's per-chunk dedup, ``main.R:105``,
  becomes truly global here).
- **n-gram Jaccard**: exact near-dup via shingle inverted index —
  cost is O(pairs sharing a shingle), fine for blocked/medium
  corpora; the MinHash-LSH twin below is the sub-quadratic scale
  path (band-bucket join, never all-pairs).
- **SimHash**: 64-bit fingerprint from per-token hash bit votes —
  pure expressions over an explode, one agg; near-dups then collide
  in fingerprint (or low Hamming distance) buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cleaning import SQL_TOKENS, clean_chain, sql_clean_chain, tokens
from ..tables import table


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the scan yields fewer
    partitions than cores (tiny local fixtures are one parquet row
    group -> one task, serializing the CPU-heavy shingle explode
    that follows). At cluster scale inputs have >= cores splits and
    this is a no-op — no shuffle is added to the 100 TB plan."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def _shingles(tok_col: str = "toks", n: int = 3):
    """Distinct word n-gram shingles as zip_with over shifted
    slices. This formulation is ~9x faster than indexing with
    ``element_at(arr, i)`` inside a transform lambda (variable
    ordinals defeat codegen); slices + zip_with stay fully
    codegen'd. Short docs (< n tokens) yield empty slices -> empty
    shingle arrays, no guard needed."""
    tok = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    count = F.greatest(F.size(tok) - (n - 1), F.lit(0))
    out = F.slice(tok, 1, count)
    for k in range(1, n):
        shifted = F.slice(tok, 1 + k, count)
        out = F.zip_with(out, shifted, lambda x, y: F.concat_ws(" ", x, y))
    return F.array_distinct(out)


def q_dedup_exact_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global exact dedup: canonical (min doc_id) survivor per text +
    copy count. Cross-partition, unlike the reference's per-chunk
    scope (``main.R:105``)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on the cleaning-chain-normalized text, keyed by digest
    (shuffle rows carry a 32-byte key, not the document)."""
    d = table(spark, sf_dir, "documents")
    norm = clean_chain(F.col("text"))
    return (
        d.select("doc_id", F.md5(norm).alias("norm_digest"))
        .groupBy("norm_digest")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# Document-frequency cap for the shingle inverted index: buckets
# whose posting list exceeds this are stop-shingles (boilerplate,
# templates) and are dropped before pair generation, bounding the
# per-bucket pair cost at O(MAX_SHINGLE_DF**2) regardless of corpus
# size — the standard guard in MinHash/shingle pipelines. The sf0.01
# fixture's max df is 25, so the default cap is semantics-neutral for
# the oracle while still bounding a 100 TB run.
MAX_SHINGLE_DF = 128


def ngram_jaccard_dropped_shingles(
    spark: SparkSession, sf_dir: str, max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Diagnostic companion to :func:`q_dedup_ngram_jaccard`: the
    stop-shingles the df cap drops, with their document frequency.
    Run (and log) this alongside the dedup job — a large dropped set
    means near-dup recall is delegated to the MinHash twin."""
    d = table(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    sh = d.select("doc_id", F.explode(_shingles()).alias("shingle"))
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
    )


def _shingle_intersections(
    spark: SparkSession,
    sf_dir: str,
    max_df: int = MAX_SHINGLE_DF,
    digest_keys: bool = False,
) -> DataFrame:
    """Shared inverted-index intersection pipeline for the shingle
    near-dup family: distinct 3-gram shingles → df-capped posting
    lists → upper-triangle in-bucket pair generation → per-pair
    intersection counts. Returns (doc_a, doc_b, n_a, n_b, n_inter)
    with doc_a < doc_b.

    Posting-list pair generation: group the inverted index by
    shingle key, emit in-bucket pairs via higher-order functions —
    shingles are computed and shuffled ONCE (a self-join computes
    and shuffles them twice): measured ~2x faster. The df cap drops
    stop-shingle buckets before the quadratic step, so no single
    collect_list row can exceed max_df entries; hot-corpus recall
    falls back to the MinHash-LSH twin (q_dedup_minhash), whose
    banding never materializes a bucket product. Use
    ngram_jaccard_dropped_shingles to audit the drop. size >= 2:
    singleton buckets (the vast majority of shingles) generate zero
    pairs — dropping them skips the pair transform/flatten/explode
    machinery for most of the index. Upper-triangle generation
    (struct sort is doc_id-major, so positional pairs are already
    doc_a < doc_b): n(n-1)/2 structs per bucket instead of n² with
    half filtered away — same rewrite as q_dedup_minhash_banded's
    bucket stage."""
    d = _spread(
        table(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    )
    return shingle_intersections_frame(d, max_df, digest_keys)


def shingle_intersections_frame(
    d: DataFrame,
    max_df: int = MAX_SHINGLE_DF,
    digest_keys: bool = False,
) -> DataFrame:
    """Frame-level core of :func:`_shingle_intersections` (any frame
    with doc_id + a ``toks`` token array). (The r16 ``pre_shingled``
    opt-in is gone with its only caller: the recall audit's shared
    token checkpoint was reverted in r17 after the cold-JVM A/B and
    the driver's numbers both showed the materialization costing
    more than the recompute it saved.)"""
    key = (
        F.xxhash64(F.col("shingle")) if digest_keys else F.col("shingle")
    ).alias("sh_key")
    shingled = d.select("doc_id", _shingles().alias("s"))
    sh = shingled.select(
        "doc_id", F.size("s").alias("n_sh"), F.explode("s").alias("shingle")
    ).select("doc_id", "n_sh", key)
    buckets = (
        sh.groupBy("sh_key")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("docs"))
        .filter(F.size("docs").between(2, max_df))
    )
    pairs = buckets.select(
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
    return pairs.groupBy(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.n_sh").alias("n_a"),
        F.col("p.b.n_sh").alias("n_b"),
    ).agg(F.count(F.lit(1)).alias("n_inter"))


def q_dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    max_df: int = MAX_SHINGLE_DF,
    digest_keys: bool = False,
) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (>= 0.3), via a
    shingle inverted index: explode distinct shingles, self-join on
    the shingle, count intersections, join back sizes. No all-pairs
    product — cost follows shingle co-occurrence, bounded by the
    stop-shingle df cap (``max_df``).

    ``digest_keys=True`` shuffles ``xxhash64(shingle)`` instead of
    the 3-word string — same buckets, ~4x fewer shuffle bytes, the
    right knob when shuffle crosses a network. A 64-bit collision
    (expected ~ |shingles|^2 / 2^65, a handful even at 10^10
    shingles) can only ADD a candidate pair or slightly inflate one
    intersection count — the df cap still bounds every bucket.
    Measured at sf0.1 local[32] (n=5, in-memory shuffle): string
    median 2.05 s vs digest 2.47 s — the hash costs more than the
    byte saving when no network is involved, so string stays the
    local default; flip it on clusters. Both variants are
    oracle-checked at sf0.01 (no collisions there, identical)."""
    inter = _shingle_intersections(spark, sf_dir, max_df, digest_keys)
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.3)
        .select("doc_a", "doc_b", "jaccard")
    )


#: minimum directional containment reported by q_dedup_containment.
CONTAIN_MIN = 0.5


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs — C(A→B) = |A∩B| / |A| —
    the quote/subset detector (RefinedWeb/MassiveText-style): a
    short doc fully embedded in a longer one scores ~1.0 on
    containment while its Jaccard can be arbitrarily small (the
    union is dominated by the long doc), so Jaccard-only dedup
    systematically misses subsumed documents.

    Same inverted-index machinery as q_dedup_ngram_jaccard (distinct
    3-gram shingles → df-capped posting lists → upper-triangle
    in-bucket pair generation → intersection counts); only the final
    metric differs: both directions are emitted and a pair survives
    when either containment ≥ ``CONTAIN_MIN``. Scale profile is
    identical to the Jaccard twin — cost follows shingle
    co-occurrence under the df cap, never |D|²."""
    inter = _shingle_intersections(spark, sf_dir)
    c_ab = F.round(F.col("n_inter") / F.col("n_a"), 6)
    c_ba = F.round(F.col("n_inter") / F.col("n_b"), 6)
    return (
        inter.select(
            "doc_a",
            "doc_b",
            c_ab.alias("contain_a_in_b"),
            c_ba.alias("contain_b_in_a"),
        )
        .filter(
            F.greatest("contain_a_in_b", "contain_b_in_a") >= CONTAIN_MIN
        )
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (rows-only: MLlib hash family
    is engine-specific). This is the 100 TB path: shingle sets ->
    binary term vectors -> banded MinHash buckets ->
    approxSimilarityJoin joins only within buckets, never all-pairs.
    Exactness is pinned by the q_dedup_ngram_jaccard twin."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    d = _spread(
        table(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    )
    sh = d.select("doc_id", _shingles().alias("shingles"))
    cv = CountVectorizer(
        inputCol="shingles", outputCol="features", binary=True, minDF=1.0
    )
    model = cv.fit(sh)
    feats = model.transform(sh).filter(
        # MinHashLSH requires at least one non-zero entry
        F.size("shingles") > 0
    )
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    mh_model = mh.fit(feats)
    pairs = mh_model.approxSimilarityJoin(feats, feats, 0.7, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1 - F.col("jaccard_dist"), 6).alias("jaccard_approx"),
        )
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (rows-only: xxhash64 is
    Spark-specific). Per-token hashes vote per bit; the fingerprint
    packs the vote signs. One explode + one agg — linear cost."""
    d = _spread(
        table(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    )
    tok = d.select("doc_id", F.explode("toks").alias("token")).withColumn(
        "h", F.xxhash64("token")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    per_doc = tok.groupBy("doc_id").agg(*votes)
    fingerprint = None
    for i in range(64):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fingerprint = term if fingerprint is None else fingerprint.bitwiseXOR(term)
    return per_doc.select("doc_id", fingerprint.alias("simhash"))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (rows-only): banded Hamming bucketing
    over the 64-bit fingerprints. By pigeonhole, any pair within
    Hamming distance 3 agrees exactly on at least one of four 16-bit
    bands — so candidates come from four band-equality bucket joins
    (linear index build, in-bucket pairs only, never all-pairs), and
    the popcount verify runs per candidate. The same shape at
    cluster scale, with the band buckets as the shuffle keys.
    Same quadratic guard as the other pair generators: band buckets
    larger than ``max_bucket`` (boilerplate fingerprints — empty or
    templated docs) are dropped before pairing."""
    max_bucket = 1024
    fp = q_dedup_simhash(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", "bv.band", "bv.band_val")
    keep = (
        bands.groupBy("band", "band_val")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= max_bucket)
        .select("band", "band_val")
    )
    # the keep-set is bounded by the key space, not the corpus:
    # 4 bands x 2^16 band values = at most 262k rows (~5 MB), so the
    # hint is safe at any SF (SCALE.md cap table)
    bands = bands.join(F.broadcast(keep), ["band", "band_val"])
    # salted pair join (the similarity._pairs_from_state trick,
    # applied here after the r15 exponent cohort caught the unsalted
    # form serializing at sf1: the in-bucket pair stage's shuffle
    # INPUT is tiny, so AQE coalesced the quadratic expansion into
    # ONE task; a-side replicates x8, b-side hashes to one salt,
    # explicit-N repartition keeps AQE's hands off)
    _salt = 8
    n_part = fp.sparkSession.sparkContext.defaultParallelism
    a = bands.select(
        "band", "band_val",
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"),
    ).withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_salt - 1))))
    b = bands.select(
        F.col("band").alias("band_b"), F.col("band_val").alias("band_val_b"),
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"),
    ).withColumn("salt_b", F.pmod(F.xxhash64("doc_b"), F.lit(_salt)).cast("int"))
    a = a.repartition(n_part, "band", "band_val", "salt")
    b = b.repartition(n_part, "band_b", "band_val_b", "salt_b")
    cand = (
        a.join(
            b,
            (a.band == b.band_b)
            & (a.band_val == b.band_val_b)
            & (a.salt == b.salt_b)
            & (a.doc_a < b.doc_b),
        )
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()  # a pair may collide in several bands
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


_SPAN = 4  # tokens per span; a "paragraph" analogue for the
# newline-free fixture text. Production web corpora would split on
# '\n\n' instead — the pipeline below is span-definition agnostic.


def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide span-level exact dedup with document reassembly
    (the C4/RefinedWeb "remove duplicated paragraphs" operation;
    reference scope: main.R:105 dedups whole tweets — this is the
    finer-grained corpus analogue training pipelines need).

    Each document is cut into consecutive ``_SPAN``-token spans; a
    span survives iff it is the globally-FIRST occurrence of its
    content (order = (doc_id, span_idx)); each document is then
    reassembled from its surviving spans in order. Output keeps the
    per-doc kept/total span counts, so the dedup rate is auditable.

    Scale: the only corpus-wide exchange is ONE hash-agg shuffle
    keyed on the 32-byte span md5 (never the span text), and the
    survivor check joins span rows back on that digest — the same
    digest-keyed pattern as q_dedup_normalized. Reassembly is a
    per-doc hash agg (collect_list + array_sort, bounded by spans
    per document). A viral boilerplate span is one hot digest key:
    its group collapses map-side to one winner row and AQE splits
    any residual skew. No sort, no window over the corpus."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    spans = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(size(toks) / {_SPAN}.0)) - 1), "
                f"i -> concat_ws(' ', slice(toks, i * {_SPAN} + 1, {_SPAN})))"
            )
        ).alias("span_idx", "span"),
    ).withColumn("digest", F.md5("span"))
    firsts = spans.groupBy("digest").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("first_at")
    )
    survivors = spans.join(firsts, "digest").filter(
        (F.col("doc_id") == F.col("first_at.doc_id"))
        & (F.col("span_idx") == F.col("first_at.span_idx"))
    )
    # total_spans is ceil(|toks| / SPAN) by construction, so it comes
    # straight from the token array — r7: this replaces a THIRD
    # consumption of the span explode plus its per-doc hash-agg
    # shuffle with a zero-shuffle projection (measured −6% at sf0.1;
    # at 100 TB it removes one full corpus explode pass). The oracle
    # still derives totals by counting spans — the two formulations
    # cross-check each other through the cert.
    totals = d.select(
        "doc_id",
        F.expr(f"int(ceil(size(toks) / {_SPAN}.0))")
        .cast("long")
        .alias("total_spans"),
    )
    kept = survivors.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_spans"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(struct(span_idx, span))), "
                "x -> x.span)"
            ),
        ).alias("text_dedup"),
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        F.coalesce("kept_spans", F.lit(0)).alias("kept_spans"),
        "total_spans",
    )


#: re-crawl simulation: base = hash buckets [0,80); the increment is
#: the remaining 20% of pages PLUS buckets [0,20) re-appearing under
#: shifted doc_ids (a fresh crawl re-fetching known pages).
_INCR_RECRAWL_SHIFT = 1_000_000


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new crawl batch against an existing
    corpus — the steady-state form of ``q_dedup_exact_global``
    (reference scope: main.R:105 dedups within one chunk only; a
    production crawler dedups each increment against ALL history).

    The fixture has no second crawl, so the increment is simulated
    deterministically on both engines: the 20% of documents hashing
    outside the base are the genuinely-new pages, and the base's
    first 20 hash buckets re-appear under shifted doc_ids (re-crawled
    known pages). A batch row survives iff its content digest is not
    in the base corpus; within-batch copies keep the smallest doc_id.

    Scale: the base side is ONLY its distinct digest column — at
    100 TB that is the dedup index you maintain anyway (append
    survivors' digests each increment), never a rescan of the
    corpus; the anti-join shuffles 32-byte digests on both sides,
    and a bloom filter on base digests (Spark pushes one at runtime
    for selective joins) prunes most batch rows before the exchange.
    The increment is tiny relative to history, so at cluster scale
    the base-digest side would instead be a broadcast-bloom +
    shuffle-join hybrid; here both sides shuffle once on the digest
    key and AQE picks the strategy."""
    from .sampling import hash_bucket

    d = table(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        F.md5("text").alias("digest"),
        hash_bucket(F.col("text")).alias("bk"),
    )
    base = b.where(F.col("bk") < 80).select("digest").distinct()
    batch = b.where(F.col("bk") >= 80).select("doc_id", "digest").unionAll(
        b.where(F.col("bk") < 20).select(
            (F.col("doc_id") + F.lit(_INCR_RECRAWL_SHIFT)).alias("doc_id"),
            "digest",
        )
    )
    new = batch.join(base, "digest", "left_anti")
    return new.groupBy("digest").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_batch_copies"),
    )


def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawler front-door dedup that
    runs BEFORE any content fetch (reference scope: main.R has no
    crawler; [EXT] web-corpus surface, the C4/CCNet URL-dedup step).

    The fixture has no URL column, so messy variants are synthesized
    deterministically from doc_id on both engines (scheme http/https,
    mixed host case, trailing slash, utm_* tracking params, #fragment
    — the five classic aliasing axes). Canonicalization: lowercase
    scheme+host (path case preserved), strip fragment, strip utm
    params, strip trailing slash, normalize scheme to https; then
    group by the canonical URL keeping the smallest doc_id.

    Scale: canonicalization is a per-row regex projection (zero
    shuffle); the dedup is ONE hash agg keyed on the canonical URL
    string — at 100 TB you'd key on its digest like
    q_dedup_normalized, and viral URLs are one hot key collapsed
    map-side."""
    d = table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(
        F.when(i % 5 == 0, "http://").otherwise("https://"),
        F.when(i % 2 == 0, "Site").otherwise("site"),
        (i % 5).cast("string"),
        F.lit(".Example.org/p/"),
        (i % 8).cast("string"),
        F.when(i % 3 == 0, "/").otherwise(""),
        F.when(i % 2 == 0, "?utm_source=feed&utm_medium=rss").otherwise(""),
        F.when(i % 7 == 0, "#frag").otherwise(""),
    )
    scheme_host = F.lower(F.regexp_extract(url, r"^([^/]*//[^/]*)", 1))
    rest = F.regexp_extract(url, r"^[^/]*//[^/]*(.*)$", 1)
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.concat(scheme_host, rest), r"#.*$", ""),
            r"\?utm[^#]*",
            "",
        ),
        r"/$",
        "",
    )
    canon = F.regexp_replace(canon, r"^http://", "https://")
    return (
        d.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


#: Lee et al. 2022 ("Deduplicating Training Data Makes Language
#: Models Better")-style exact-substring window, in TOKENS: the
#: suffix-array pass finds verbatim spans repeated across documents;
#: the distributable approximation hashes every ``_SUBSTR_TOKENS``-
#: token sliding window.
_SUBSTR_TOKENS = 8


def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring detection: every sliding
    ``_SUBSTR_TOKENS``-token window, hashed and counted; windows
    appearing in ≥2 distinct documents are the verbatim-repeated
    spans an exact-substring dedup (Lee et al. 2022) would cut.
    Complements q_dedup_paragraph (disjoint _SPAN-token blocks) at
    sliding sub-paragraph granularity — boilerplate, license
    headers, quoted chunks.

    Windows are anchored at TOKEN boundaries, which makes detection
    position-independent: any verbatim span of ≥ _SUBSTR_TOKENS
    tokens contributes its leading window in EVERY document that
    contains it, wherever the span sits. (The tempting cheaper form
    — fixed-STRIDE character windows — is alignment-dependent: the
    same span at offsets 12 and 0 never hash-matches, a miss the
    unit test pins.)

    Scale: a true suffix array does not distribute; sliding
    token-window hashing is the standard cluster-scale stand-in,
    cost = one window per corpus token. Each window is md5'd IN the
    projection, so the single shuffle carries 32-byte digests —
    never text — and the hash agg's map-side partial collapses
    boilerplate-heavy partitions before the exchange (a viral
    license-header window is one hot key, absorbed the
    q_dedup_exact_global way)."""
    w = _SUBSTR_TOKENS
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    grams = d.where(F.size("toks") >= w).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {w} + 1), "
                f"i -> md5(concat_ws(' ', slice(toks, i, {w}))))"
            )
        ).alias("gram_hash"),
    )
    return (
        grams.groupBy("gram_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
    )


def _windows(d: DataFrame) -> DataFrame:
    """(doc_id, i, h) rows: the md5 digest of every _SUBSTR_TOKENS-
    token sliding window of a (doc_id, toks) frame, 1-indexed —
    shared by :func:`q_dedup_substring_cut` and the incremental
    window-digest rollup (rollup.py)."""
    w = _SUBSTR_TOKENS
    return (
        d.where(F.size("toks") >= w)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {w} + 1), "
                    f"i -> md5(concat_ws(' ', slice(toks, i, {w}))))"
                )
            ).alias("p", "h"),
        )
        .select("doc_id", (F.col("p") + 1).alias("i"), "h")
    )


def _reassemble_cut(d: DataFrame, dup: DataFrame) -> DataFrame:
    """(doc_id, text_cut_md5, cut_tokens, kept_tokens) for a
    (doc_id, toks) frame given the (doc_id, i) window occurrences to
    cut: a token is cut iff ANY cut window covers it. Survivor
    positions are the set complement ``array_except(sequence(1, n),
    cut_pos)`` — a hash-set probe, O(tokens + cut positions) per doc
    (the r10 advisor flagged the previous filter-with-index +
    array_contains form as O(tokens x cut_positions)); order is
    preserved (array_except keeps left-array order), then tokens
    rejoin by position via transform/element_at — whole-stage
    codegen, no token explode."""
    w = _SUBSTR_TOKENS
    cov = dup.groupBy("doc_id").agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(F.sequence(F.col("i"), F.col("i") + (w - 1)))
            )
        ).alias("cut_pos")
    )
    cut = F.coalesce(F.col("cut_pos"), F.expr("array()").cast("array<int>"))
    # sequence(1, 0) steps DOWN to [1, 0] when toks is empty (Spark
    # steps -1 when start > stop) and element_at(toks, 0) then
    # raises — guard the empty-document case explicitly. Note:
    # array_except preserving left-array order is Spark
    # implementation behavior (Catalyst's ArrayExcept walks the left
    # array in order), not documented contract — pinned by
    # test_dedup.py so an upstream change surfaces as a test red,
    # not silent reorder.
    kept_pos = F.when(
        F.size("toks") > 0,
        F.array_except(F.sequence(F.lit(1), F.size("toks")), cut),
    ).otherwise(F.expr("array()").cast("array<int>"))
    kept = F.transform(kept_pos, lambda p: F.element_at(F.col("toks"), p))
    return d.join(cov, "doc_id", "left").select(
        "doc_id",
        F.md5(F.concat_ws(" ", kept)).alias("text_cut_md5"),
        (F.size("toks") - F.size(kept)).cast("long").alias("cut_tokens"),
        F.size(kept).cast("long").alias("kept_tokens"),
    )


def q_dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring CUT and reassemble — ``q_dedup_exact_substring``
    detects repeated ``_SUBSTR_TOKENS``-token windows; this op
    REMOVES them the way C4 / Lee et al. 2022 pipelines do and
    rebuilds each document from its surviving tokens (the
    ``q_dedup_paragraph`` reassembly at sliding sub-paragraph
    granularity). Policy: a window occurrence is cut iff its content
    appears >= 2 times in the corpus (cross-doc OR within-doc — Lee
    2022 removes both) AND it is not the globally-first occurrence
    (order = (doc_id, position)); a TOKEN is cut iff ANY cut window
    covers it, so overlapping duplicated spans cut once, cleanly.
    Output is (doc_id, text_cut_md5, cut_tokens, kept_tokens) — the
    md5 keeps rows narrow while still hash-pinning the exact
    reassembled text.

    Scale: the corpus-wide exchanges are (1) the window-digest hash
    agg (32-byte keys, map-side collapse of boilerplate — the
    q_dedup_exact_substring shuffle) and (2) the digest-keyed join
    of window rows back to their first-occurrence row. Cut-position
    aggregation is a per-doc hash agg bounded by windows per doc;
    token filtering is a per-row array expression (filter-with-index
    over the token array against the broadcast-free per-doc cut
    set) — whole-stage codegen, no Python, no corpus-wide token
    explode on the Spark side (the oracle derives tokens by explode;
    the two formulations cross-check through the cert)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    # the window-digest frame feeds BOTH the first-occurrence agg and
    # the dup join-back; materializing it once (narrow (doc_id, i,
    # 32-byte h) rows) saves a full second md5-every-window pass
    # (r16 optimization pass, guide §2.4 — measured 2.78 s -> 1.82 s
    # best-of-4 at sf0.1)
    wins = _windows(d).localCheckpoint()
    firsts = wins.groupBy("h").agg(
        F.min(F.struct("doc_id", "i")).alias("first_at"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    dup = wins.join(firsts, "h").filter(
        (F.col("n_occ") >= 2)
        & ~(
            (F.col("doc_id") == F.col("first_at.doc_id"))
            & (F.col("i") == F.col("first_at.i"))
        )
    )
    return _reassemble_cut(d, dup.select("doc_id", "i"))


QUERIES = {
    "q_dedup_exact_global": q_dedup_exact_global,
    "q_dedup_exact_substring": q_dedup_exact_substring,
    "q_dedup_substring_cut": q_dedup_substring_cut,
    "q_dedup_incremental": q_dedup_incremental,
    "q_dedup_url_canonical": q_dedup_url_canonical,
    "q_dedup_normalized": q_dedup_normalized,
    "q_dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "q_dedup_containment": q_dedup_containment,
    "q_dedup_paragraph": q_dedup_paragraph,
    "q_dedup_minhash": q_dedup_minhash,  # rows-only
    "q_dedup_simhash": q_dedup_simhash,  # rows-only
    # q_dedup_simhash_pairs registers in extras: rows-only, so it
    # must not displace an oracle-backed op from the certified
    # registry prefix (see queries/__init__.py ordering note)
}

ORACLE = {
    "q_dedup_exact_global": (
        "SELECT text, min(doc_id) AS keeper_doc_id, count(*)::BIGINT AS n_copies "
        "FROM documents GROUP BY text"
    ),
    "q_dedup_exact_substring": (
        f"WITH t AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents), "
        "g AS (SELECT doc_id, unnest(list_transform("
        f"  range(1, greatest(len(toks) - {_SUBSTR_TOKENS} + 1, 0) + 1), "
        f"  i -> md5(array_to_string(toks[i : i + {_SUBSTR_TOKENS} - 1], ' ')))) "
        "  AS gram_hash FROM t) "
        "SELECT gram_hash, count(DISTINCT doc_id)::BIGINT AS n_docs, "
        "count(*)::BIGINT AS n_occ "
        "FROM g GROUP BY gram_hash HAVING count(DISTINCT doc_id) >= 2"
    ),
    "q_dedup_substring_cut": (
        # first occurrence via the q_dedup_paragraph row_number
        # idiom; token reassembly via explode + string_agg ORDER BY
        # position (the Spark side filters the token array in place
        # — the two formulations cross-check through the cert)
        f"WITH t AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents), "
        "wn AS (SELECT doc_id, i, md5(array_to_string("
        f"  toks[i : i + {_SUBSTR_TOKENS} - 1], ' ')) AS h "
        "  FROM (SELECT doc_id, toks, unnest(range(1, "
        f"    greatest(len(toks) - {_SUBSTR_TOKENS} + 1, 0) + 1)) AS i FROM t)), "
        "rk AS (SELECT doc_id, i, "
        "  row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn, "
        "  count(*) OVER (PARTITION BY h) AS n_occ FROM wn), "
        "dup AS (SELECT doc_id, i FROM rk WHERE n_occ >= 2 AND rn > 1), "
        f"cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + {_SUBSTR_TOKENS})) "
        "  AS j FROM dup), "
        "tk AS (SELECT doc_id, j, tok FROM (SELECT doc_id, "
        "  unnest(toks) AS tok, generate_subscripts(toks, 1) AS j FROM t)), "
        "k AS (SELECT tk.doc_id, tk.j, tk.tok FROM tk "
        "  LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.j = cov.j "
        "  WHERE cov.j IS NULL), "
        "r AS (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY j)) "
        "  AS text_cut_md5, count(*)::BIGINT AS kept FROM k GROUP BY doc_id), "
        "tot AS (SELECT doc_id, len(toks)::BIGINT AS n FROM t) "
        "SELECT tot.doc_id, coalesce(r.text_cut_md5, md5('')) AS text_cut_md5, "
        "(tot.n - coalesce(r.kept, 0))::BIGINT AS cut_tokens, "
        "coalesce(r.kept, 0)::BIGINT AS kept_tokens "
        "FROM tot LEFT JOIN r USING (doc_id)"
    ),
    "q_dedup_url_canonical": (
        "WITH u AS (SELECT doc_id, "
        "  (CASE WHEN doc_id % 5 = 0 THEN 'http://' ELSE 'https://' END) "
        "  || (CASE WHEN doc_id % 2 = 0 THEN 'Site' ELSE 'site' END) "
        "  || (doc_id % 5) || '.Example.org/p/' || (doc_id % 8) "
        "  || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) "
        "  || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_medium=rss' "
        "      ELSE '' END) "
        "  || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url "
        "  FROM documents), "
        "c AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace("
        "  lower(regexp_extract(url, '^([^/]*//[^/]*)', 1)) "
        "  || regexp_extract(url, '^[^/]*//[^/]*(.*)$', 1), "
        "  '#.*$', ''), '\\?utm[^#]*', ''), '/$', '') AS c1 FROM u), "
        "n AS (SELECT doc_id, regexp_replace(c1, '^http://', 'https://') "
        "  AS canon_url FROM c) "
        "SELECT canon_url, min(doc_id) AS keeper_doc_id, "
        "count(*)::BIGINT AS n_variants FROM n GROUP BY canon_url"
    ),
    "q_dedup_incremental": (
        "WITH b AS (SELECT doc_id, md5(text) AS digest, "
        "(('0x' || substr(md5(text), 1, 8))::UBIGINT % 100) AS bk FROM documents), "
        "base AS (SELECT DISTINCT digest FROM b WHERE bk < 80), "
        "batch AS ("
        "  SELECT doc_id, digest FROM b WHERE bk >= 80 "
        "  UNION ALL "
        f"  SELECT doc_id + {_INCR_RECRAWL_SHIFT}, digest FROM b WHERE bk < 20) "
        "SELECT digest, min(doc_id) AS keeper_doc_id, "
        "count(*)::BIGINT AS n_batch_copies "
        "FROM batch WHERE digest NOT IN (SELECT digest FROM base) "
        "GROUP BY digest"
    ),
    "q_dedup_normalized": (
        f"SELECT md5({sql_clean_chain('text')}) AS norm_digest, "
        "min(doc_id) AS keeper_doc_id, count(*)::BIGINT AS n_copies "
        "FROM documents GROUP BY 1"
    ),
    "q_dedup_paragraph": (
        "WITH t AS (SELECT doc_id, " + SQL_TOKENS + " AS toks FROM documents), "
        "idx AS (SELECT doc_id, toks, unnest(range(CAST(ceil(len(toks) / "
        f"{_SPAN}.0) AS BIGINT))) AS span_idx FROM t), "
        "spans AS (SELECT doc_id, span_idx, array_to_string("
        f"  toks[span_idx * {_SPAN} + 1 : span_idx * {_SPAN} + {_SPAN}], ' ') "
        "  AS span FROM idx), "
        "ranked AS (SELECT doc_id, span_idx, span, row_number() OVER ("
        "  PARTITION BY md5(span) ORDER BY doc_id, span_idx) AS rn FROM spans), "
        "totals AS (SELECT doc_id, count(*)::BIGINT AS total_spans "
        "  FROM spans GROUP BY doc_id), "
        "kept AS (SELECT doc_id, count(*)::BIGINT AS kept_spans, "
        "  string_agg(span, ' ' ORDER BY span_idx) AS text_dedup "
        "  FROM ranked WHERE rn = 1 GROUP BY doc_id) "
        "SELECT t.doc_id, coalesce(k.text_dedup, '') AS text_dedup, "
        "coalesce(k.kept_spans, 0)::BIGINT AS kept_spans, t.total_spans "
        "FROM totals t LEFT JOIN kept k USING (doc_id)"
    ),
    "q_dedup_containment": (
        "WITH t AS (SELECT doc_id, " + SQL_TOKENS + " AS toks FROM documents), "
        "sh AS (SELECT doc_id, list_distinct(list_transform("
        "  range(1, greatest(len(toks) - 2, 0) + 1), "
        "  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM t), "
        "ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh), "
        "keep AS (SELECT shingle FROM ex GROUP BY shingle "
        "         HAVING count(*) <= 128), "
        "exk AS (SELECT ex.* FROM ex JOIN keep USING (shingle)), "
        "inter AS ("
        "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a, "
        "         b.n_sh AS n_b, count(*) AS n_inter "
        "  FROM exk a JOIN exk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        "  GROUP BY 1, 2, 3, 4) "
        "SELECT doc_a, doc_b, "
        "round(n_inter * 1.0 / n_a, 6) AS contain_a_in_b, "
        "round(n_inter * 1.0 / n_b, 6) AS contain_b_in_a "
        "FROM inter WHERE greatest(round(n_inter * 1.0 / n_a, 6), "
        "round(n_inter * 1.0 / n_b, 6)) >= 0.5"
    ),
    "q_dedup_ngram_jaccard": (
        "WITH t AS (SELECT doc_id, " + SQL_TOKENS + " AS toks FROM documents), "
        "sh AS (SELECT doc_id, list_distinct(list_transform("
        "  range(1, greatest(len(toks) - 2, 0) + 1), "
        "  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM t), "
        "ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh), "
        # same stop-shingle df cap as the Spark side (MAX_SHINGLE_DF)
        "keep AS (SELECT shingle FROM ex GROUP BY shingle "
        "         HAVING count(*) <= 128), "
        "exk AS (SELECT ex.* FROM ex JOIN keep USING (shingle)), "
        "inter AS ("
        "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a, "
        "         b.n_sh AS n_b, count(*) AS n_inter "
        "  FROM exk a JOIN exk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        "  GROUP BY 1, 2, 3, 4) "
        "SELECT doc_a, doc_b, "
        "round(n_inter * 1.0 / (n_a + n_b - n_inter), 6) AS jaccard "
        "FROM inter WHERE round(n_inter * 1.0 / (n_a + n_b - n_inter), 6) >= 0.3"
    ),
}


# Bloom-filter geometry for the approximate-membership twin of
# q_dedup_incremental: m bits, k hashes. At the sf0.1 base
# (~4k distinct digests) the fill is 1-exp(-k*n/m) ~ 0.26, giving
# a ~0.1% false-positive rate — small but NONZERO by design, so the
# false-positive column below actually exercises. Production sizes
# m ~ 1.44 * n * log2(1/p) bits and re-builds as n grows.
_BLOOM_M = 1 << 16
_BLOOM_K = 5


def _bloom_pos(j_col: Column, digest_col: Column) -> Column:
    """Bit position j for a digest: 60-bit md5 prefix of "j:digest"
    mod m — engine-independent integer math (q_dedup_simhash_md5
    idiom)."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", j_col.cast("string"), digest_col)),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_BLOOM_M),
    )


def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter for incremental dedup —
    the approximate-membership twin of ``q_dedup_incremental``
    (same base/batch re-crawl split): every batch document is
    checked against a bloom filter built from the base corpus's
    content digests, alongside the exact answer, so the output
    exposes the filter's false positives row by row (``bloom_hit=1,
    exact_dup=0``) and its guaranteed zero false negatives
    (Bloom 1970, CACM — public; [EXT] crawler front-door surface,
    reference scope: main.R:105 dedups within one chunk only).

    Deterministic end to end: bit positions are md5-prefix integers,
    the filter is the SET of positions (a relation, not a bitmap
    object), so the DuckDB oracle rebuilds the identical filter and
    the cert is a hash match — the same trick that makes
    ``q_agg_countmin`` certifiable.

    Scale: the base side collapses to at most m (=65536) distinct
    bit-position rows — CONSTANT in corpus size, vs the full digest
    index ``q_dedup_incremental`` ships — and broadcasts to every
    batch task ("one filter, every executor"); the batch side is a
    per-row projection of k positions plus one broadcast-join +
    per-doc hash agg, no corpus-wide exchange at all. The exact_dup
    comparison column (a digest anti-join) is fixture-scale
    validation of the FP rate; production keeps only the bloom
    verdict and routes hits to the exact index."""
    from .sampling import hash_bucket

    d = table(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        F.md5("text").alias("digest"),
        hash_bucket(F.col("text")).alias("bk"),
    )
    ks = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1)))
    base = b.where(F.col("bk") < 80).select("digest").distinct()
    bits = (
        base.select(ks.alias("j"), "digest")
        .select(_bloom_pos(F.col("j"), F.col("digest")).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    batch = b.where(F.col("bk") >= 80).select("doc_id", "digest").unionAll(
        b.where(F.col("bk") < 20).select(
            (F.col("doc_id") + F.lit(_INCR_RECRAWL_SHIFT)).alias("doc_id"),
            "digest",
        )
    )
    probed = (
        batch.select("doc_id", "digest", ks.alias("j"))
        .withColumn("pos", _bloom_pos(F.col("j"), F.col("digest")))
        .join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id", "digest")
        .agg(
            (F.sum(F.coalesce("hit", F.lit(0))) == _BLOOM_K)
            .cast("int")
            .alias("bloom_hit")
        )
    )
    exact = base.withColumn("exact_dup", F.lit(1))
    return (
        probed.join(exact, "digest", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce("exact_dup", F.lit(0)).alias("exact_dup"),
        )
    )


QUERIES["q_dedup_bloom"] = q_dedup_bloom

_BLOOM_POS_SQL = (
    "(('0x' || substr(md5(j::VARCHAR || ':' || digest), 1, 15))::UBIGINT"
    f" % {_BLOOM_M})::BIGINT"
)

ORACLE["q_dedup_bloom"] = (
    "WITH b AS (SELECT doc_id, md5(text) AS digest, "
    "(('0x' || substr(md5(text), 1, 8))::UBIGINT % 100) AS bk FROM documents), "
    f"js AS (SELECT unnest(range({_BLOOM_K})) AS j), "
    "base AS (SELECT DISTINCT digest FROM b WHERE bk < 80), "
    f"bits AS (SELECT DISTINCT {_BLOOM_POS_SQL} AS pos "
    "  FROM base CROSS JOIN js), "
    "batch AS ("
    "  SELECT doc_id, digest FROM b WHERE bk >= 80 "
    "  UNION ALL "
    f"  SELECT doc_id + {_INCR_RECRAWL_SHIFT}, digest FROM b WHERE bk < 20), "
    "probed AS (SELECT doc_id, digest, "
    f"  (count(bits.pos) = {_BLOOM_K})::INT AS bloom_hit "
    f"  FROM (SELECT doc_id, digest, {_BLOOM_POS_SQL} AS pos "
    "        FROM batch CROSS JOIN js) p "
    "  LEFT JOIN bits ON p.pos = bits.pos "
    "  GROUP BY doc_id, digest) "
    "SELECT doc_id, bloom_hit, "
    "(digest IN (SELECT digest FROM base))::INT AS exact_dup "
    "FROM probed"
)


#: MinHash signature length for the estimator audit. Estimator
#: std-dev is sqrt(J(1-J))/sqrt(K) ~ 0.057 at J=0.3 with K=64 —
#: large enough to see real per-pair error in the output, small
#: enough that the signature build stays a linear pass.
_MH_EST_K = 64

#: Mersenne prime 2^31 - 1: with a, b, h0 all < p, the 2-universal
#: slot hash (a*h0 + b) % p peaks at ~2^62 — exact BIGINT in both
#: engines, no decimal/hugeint widening needed.
_MH_P = (1 << 31) - 1


def _mh_ab() -> "list[tuple[int, int]]":
    """Fixed (a_j, b_j) coefficients for the K slot hashes, derived
    from md5 of a tagged counter so both engines embed the SAME
    integer literals (a_j != 0 for 2-universality)."""
    import hashlib

    out = []
    for j in range(_MH_EST_K):
        a = (
            int(hashlib.md5(f"mhest-a-{j}".encode()).hexdigest()[:15], 16)
            % (_MH_P - 1)
            + 1
        )
        b = int(hashlib.md5(f"mhest-b-{j}".encode()).hexdigest()[:15], 16) % _MH_P
        out.append((a, b))
    return out


_MH_AB = _mh_ab()


def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard ESTIMATION audited against the exact value
    (Broder 1997, SEQUENCES — public): per near-dup pair (exact
    3-gram Jaccard >= 0.3, same df-capped pipeline as
    ``q_dedup_ngram_jaccard``), the K=64-slot MinHash estimate —
    fraction of slots where the two docs' min-hashes agree — and
    its absolute error. This certifies the ESTIMATOR itself, which
    the rest of the MinHash family takes on faith: banded LSH
    (``q_dedup_minhash_banded``) certifies candidate generation but
    refines with exact Jaccard, and the MLlib twin
    (``q_dedup_minhash``) is rows-only. Each shingle instance is
    digested ONCE (md5 prefix reduced mod the Mersenne prime
    2^31-1); the K slot hashes derive from that single digest via a
    fixed 2-universal integer family h_j = (a_j*h0 + b_j) mod p
    (Carter-Wegman 1979, JCSS — public) with literal coefficients
    embedded identically in both engines, so the signature matrix —
    and therefore the cert — is still an exact hash match. (r8
    shipped K md5s per shingle instance; the AMS F2 A/B proved
    per-slot digesting is the bottleneck class — one digest + 3
    integer-ops/slot measured 2.3x faster on the signature build,
    interleaved best-of-5, SCALE.md r9; the residual cost is the
    shared docs x K explode + min shuffle, not hashing.)

    Scale: signatures are ONE linear pass — per-shingle digest,
    explode x K integer slot hashes, hash-agg min per (doc, slot);
    the per-(doc,slot) min collapses map-side, so the exchange
    carries at most docs x K rows (the signature matrix you would
    persist as the corpus sketch). Estimation touches only
    candidate pairs x K signature rows via two id-keyed joins —
    never all pairs, never document text. The exact-Jaccard column
    is fixture-scale audit; production keeps the estimate and drops
    the exact pipeline."""
    # ONE token frame for both the exact pipeline and the signature
    # build (r16 optimization pass, guide §2.4 — the recall-audit
    # lesson): lazily, each side re-scanned and re-tokenized the
    # corpus independently. Narrow (doc_id, toks) rows checkpoint
    # cheaply; shingles recompute from them in parallel.
    d = _spread(
        table(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    ).localCheckpoint()
    inter = shingle_intersections_frame(d)
    jac = F.round(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
    )
    pairs = (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
    )
    sh = d.select("doc_id", F.explode(_shingles()).alias("shingle"))
    slots = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _MH_AB
        ]
    )
    sig = (
        sh.select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast(
                    "long"
                )
                % _MH_P
            ).alias("h0"),
        )
        .select("doc_id", "h0", F.posexplode(slots).alias("j", "ab"))
        .select(
            "doc_id",
            "j",
            ((F.col("ab.a") * F.col("h0") + F.col("ab.b")) % _MH_P).alias("h"),
        )
        .groupBy("doc_id", "j")
        .agg(F.min("h").alias("mh"))
        # the signature matrix feeds BOTH pair sides — materialize it
        # once (docs x K narrow rows, the sketch a deployment persists
        # anyway) instead of rebuilding the digest/explode/min pass
        # per side
        .localCheckpoint()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), "j", F.col("mh").alias("mh_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), "j", F.col("mh").alias("mh_b"))
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "j"])
        .groupBy("doc_a", "doc_b", "jaccard")
        .agg(
            F.round(
                F.sum((F.col("mh_a") == F.col("mh_b")).cast("int")) / _MH_EST_K, 6
            ).alias("jaccard_est")
        )
    )
    return est.select(
        "doc_a",
        "doc_b",
        "jaccard",
        "jaccard_est",
        F.round(F.abs(F.col("jaccard") - F.col("jaccard_est")), 6).alias("abs_err"),
    )


QUERIES["q_dedup_minhash_est"] = q_dedup_minhash_est

_MH_AB_VALUES = ", ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(_MH_AB)
)

ORACLE["q_dedup_minhash_est"] = (
    "WITH t AS (SELECT doc_id, " + SQL_TOKENS + " AS toks FROM documents), "
    "shl AS (SELECT doc_id, list_distinct(list_transform("
    "  range(1, greatest(len(toks) - 2, 0) + 1), "
    "  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM t), "
    "ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM shl), "
    "keep AS (SELECT shingle FROM ex GROUP BY shingle "
    "         HAVING count(*) <= 128), "
    "exk AS (SELECT ex.* FROM ex JOIN keep USING (shingle)), "
    "inter AS ("
    "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a, "
    "         b.n_sh AS n_b, count(*) AS n_inter "
    "  FROM exk a JOIN exk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
    "  GROUP BY 1, 2, 3, 4), "
    "pairs AS (SELECT doc_a, doc_b, "
    "  round(n_inter * 1.0 / (n_a + n_b - n_inter), 6) AS jaccard "
    "  FROM inter "
    "  WHERE round(n_inter * 1.0 / (n_a + n_b - n_inter), 6) >= 0.3), "
    f"js AS (SELECT * FROM (VALUES {_MH_AB_VALUES}) AS v(j, a, b)), "
    "hv AS (SELECT doc_id, "
    f"  (('0x' || substr(md5(shingle), 1, 15))::UBIGINT)::BIGINT % {_MH_P} "
    "    AS h0 "
    "  FROM (SELECT doc_id, unnest(s) AS shingle FROM shl) e), "
    f"sig AS (SELECT doc_id, j, min((a * h0 + b) % {_MH_P})::BIGINT AS mh "
    "  FROM hv CROSS JOIN js GROUP BY doc_id, j), "
    "est AS (SELECT p.doc_a, p.doc_b, p.jaccard, "
    f"  round(sum((sa.mh = sb.mh)::INT) * 1.0 / {_MH_EST_K}, 6) AS jaccard_est "
    "  FROM pairs p "
    "  JOIN sig sa ON sa.doc_id = p.doc_a "
    "  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.j = sa.j "
    "  GROUP BY 1, 2, 3) "
    "SELECT doc_a, doc_b, jaccard, jaccard_est, "
    "round(abs(jaccard - jaccard_est), 6) AS abs_err FROM est"
)


def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup: duplication-aware DOWN-WEIGHTING instead of
    dropping (the "soft deduplication" family, e.g. SoftDedup —
    He et al. 2024, arXiv:2407.06654: keep every copy but shrink its
    sampling weight so the cluster contributes one document's worth
    of gradient mass). Clusters are the cleaning-chain-normalized
    digest groups of ``q_dedup_normalized``; every doc gets
    soft_weight = 1/|cluster| and its effective whitespace-token
    contribution eff_tokens = n_tokens/|cluster| — the numbers a
    sampler multiplies into its per-doc rate, preserving diversity
    that hard keep-first dedup throws away.

    Cross-engine exactness: |cluster| and n_tokens are BIGINTs; the
    two divisions are single IEEE ops rounded at 6. Scale: identical
    profile to q_dedup_normalized — the corpus shuffles once keyed
    on the 32-byte digest (never text), the per-cluster count joins
    back digest-keyed; viral boilerplate is one hot digest collapsed
    map-side by the partial count."""
    d = table(spark, sf_dir, "documents")
    norm = clean_chain(F.col("text"))
    keyed = d.select(
        "doc_id",
        F.md5(norm).alias("norm_digest"),
        F.size(tokens()).alias("n_tokens"),
    )
    sizes = keyed.groupBy("norm_digest").agg(
        F.count(F.lit(1)).alias("dup_count")
    )
    return keyed.join(sizes, "norm_digest").select(
        "doc_id",
        "dup_count",
        F.round(F.lit(1.0) / F.col("dup_count"), 6).alias("soft_weight"),
        F.round(F.col("n_tokens") / F.col("dup_count").cast("double"), 6).alias(
            "eff_tokens"
        ),
    )


QUERIES["q_dedup_soft_weights"] = q_dedup_soft_weights
ORACLE["q_dedup_soft_weights"] = (
    "WITH keyed AS (SELECT doc_id, "
    f"md5({sql_clean_chain('text')}) AS norm_digest, "
    "len(" + SQL_TOKENS + ")::BIGINT AS n_tokens "
    "FROM documents), "
    "sizes AS (SELECT norm_digest, count(*)::BIGINT AS dup_count "
    "FROM keyed GROUP BY norm_digest) "
    "SELECT doc_id, dup_count, "
    "round(1.0 / dup_count, 6) AS soft_weight, "
    "round(n_tokens / dup_count::DOUBLE, 6) AS eff_tokens "
    "FROM keyed JOIN sizes USING (norm_digest)"
)


def q_dedup_token_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort dedup — the fuzzy-matching "token sort ratio" key
    at exact-match strength: documents whose lowercased token
    MULTISETS are equal collapse to one survivor, catching
    word-order shuffles (scraper re-renderings, shuffled boilerplate
    lists) that exact and normalized dedup both miss while staying a
    pure one-shuffle hash dedup (no pair scan). Key = md5 of the
    sorted token list — shuffle rows carry a 32-byte digest, never
    the document (the q_dedup_normalized contract)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    key = F.md5(F.array_join(F.array_sort(toks), " "))
    return (
        d.select("doc_id", key.alias("sort_digest"))
        .groupBy("sort_digest")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


QUERIES["q_dedup_token_sorted"] = q_dedup_token_sorted

ORACLE["q_dedup_token_sorted"] = (
    "SELECT md5(list_aggregate(list_sort("
    "string_split_regex(trim(lower(text)), '\\s+')), 'string_agg', ' ')) "
    "  AS sort_digest, "
    "min(doc_id)::BIGINT AS keeper_doc_id, count(*)::BIGINT AS n_copies "
    "FROM documents GROUP BY 1"
)
