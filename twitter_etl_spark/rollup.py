"""Incremental rollup maintenance (materialized-view upkeep).

``q_agg_mergeable`` (queries/sketches.py) PROVES the merge algebra —
count/sum/min/max partials computed independently merge to the exact
full-table answer. This module applies it operationally: a
materialized per-lang stats rollup that ABSORBS each new document
partition by merging partial-state rows, never re-reading history —
the maintenance loop a 100 TB ingest needs (re-aggregating the
corpus per batch is O(history); this is O(batch + |rollup|)).

Storage is ``sinks.publish_version`` snapshots, so every update is
an atomic pointer flip: readers see the pre- or post-merge rollup in
full, and retained versions give rollup time travel for free. The
state schema is the PARTIAL form (n, s, mn, mx) — finalized metrics
like avg are derived at read time, because avg partials don't merge
but (sum, count) do (the standard mergeable-state rule: store the
monoid, not the quotient).

Every ``update_*`` function below is the same absorb step with its
own batch partial and merge: :func:`_absorb` is that one rule (skip a
replayed stream batch, union the batch partials with the previous
version, merge, publish). The snapshot layout (``_LATEST``, ``v=N``,
the batch high-water mark) is ``sinks``' alone.

Replay safety under foreachBatch's at-least-once delivery: the
plain-sum rollups (lang stats, drift, softdedup) take the stream's
``batch_id`` and skip ids at or below the published high-water mark;
the rest merge idempotently (max, or, distinct, min-by survivor), so
re-absorbing a batch leaves the state as it was. The histogram and
window-digest rollups are neither, and no stream feeds them.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cleaning import tokens
from .sinks import batch_hwm, latest_version, publish_version, read_version

#: partial-state schema (the mergeable monoid) of the lang rollup;
#: previous versions are read with it, not inferred.
STATE_SCHEMA = T.StructType(
    [T.StructField("lang", T.StringType())]
    + [T.StructField(c, T.LongType()) for c in ("n", "s", "mn", "mx")]
)


def _singletons(batch: DataFrame) -> DataFrame:
    """Each batch row as a one-row partial state: ``n = 1`` (rows with
    a null ``n_chars`` count too), ``s = mn = mx = n_chars`` (nulls,
    which sum/min/max skip)."""
    c = F.col("n_chars").cast("bigint")
    return batch.select(
        F.col("lang"),
        F.lit(1).cast("bigint").alias("n"),
        c.alias("s"),
        c.alias("mn"),
        c.alias("mx"),
    )


def _absorb(
    spark: SparkSession,
    rollup_dir: str,
    fresh: DataFrame,
    cols: Sequence[str],
    merge: Callable[[DataFrame], DataFrame],
    batch_id: int | None = None,
    schema: T.StructType | None = None,
) -> int:
    """Absorb one batch's partial state ``fresh`` into the rollup at
    ``rollup_dir``; returns the published version. A stream
    ``batch_id`` at or below the published high-water mark is a
    replay: the current version is returned unchanged. Otherwise the
    partials (``cols``) are unioned with the previous version, if
    any (read with ``schema`` when given), and ``merge`` of that
    union is published, stamped with ``batch_id``. The first batch
    merges into the empty state, so ``merge`` must be idempotent on
    already-keyed partials."""
    latest = latest_version(rollup_dir)
    if latest is not None and batch_id is not None:
        if batch_id <= batch_hwm(rollup_dir, latest):
            return latest
    state = fresh.select(*cols)
    if latest is not None:
        prev = read_version(spark, rollup_dir, latest, schema=schema)
        state = prev.select(*cols).unionByName(state)
    return publish_version(merge(state).select(*cols), rollup_dir, batch_id)


def _by(keys, *aggs):
    """A merge that groups the state by ``keys`` and applies ``aggs``."""
    return lambda state: state.groupBy(*keys).agg(*aggs)


def update_rollup(
    spark: SparkSession,
    rollup_dir: str,
    new_docs: DataFrame,
    batch_id: int | None = None,
) -> int:
    """Absorb one new document partition into the materialized
    rollup; returns the published version. First call bootstraps.
    Cost: one merge (one shuffle) over |rollup| + |batch| rows, the
    batch rows entering as singleton partials that the map-side
    partial aggregate collapses — history is never re-read. Sums do
    not survive a replay, so a stream passes its foreachBatch
    ``batch_id`` and replayed ids are skipped."""
    merge = _by(
        ("lang",),
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    return _absorb(
        spark, rollup_dir, _singletons(new_docs), STATE_SCHEMA.names, merge,
        batch_id, STATE_SCHEMA,
    )


def read_rollup(spark: SparkSession, rollup_dir: str, version: int | None = None) -> DataFrame:
    """Finalized view of the rollup (derived metrics computed from
    the partial state at read time)."""
    st = read_version(spark, rollup_dir, version)
    return st.select(
        "lang",
        F.col("n").alias("n_docs"),
        F.col("s").alias("sum_chars"),
        F.col("mn").alias("min_chars"),
        F.col("mx").alias("max_chars"),
        F.round(F.col("s") / F.col("n"), 4).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# Distinct-count rollup: the classically non-incremental metric made
# incremental. count(DISTINCT) partials don't merge, but EXACT
# per-bucket bitmaps do (q_agg_bitmap_distinct proves the algebra):
# state = (event_type, bucket, bitmap), new batches OR in, distinct
# count = sum of bitmap_count over buckets. State size follows the
# KEY SPACE (32k bits -> 4 KB per bucket), not the event volume.
# ---------------------------------------------------------------------------

_DISTINCT_STATE_COLS = ("event_type", "bucket", "bm")


def _distinct_partial(batch: DataFrame) -> DataFrame:
    return batch.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm")
    )


def update_distinct_rollup(
    spark: SparkSession, rollup_dir: str, new_events: DataFrame
) -> int:
    """Absorb one event batch into the per-event-type distinct-user
    rollup; returns the published version. Merge = bitmap_or_agg per
    (event_type, bucket) — one hash agg over |rollup| + |batch
    partials| rows, history never re-read."""
    return _absorb(
        spark, rollup_dir, _distinct_partial(new_events), _DISTINCT_STATE_COLS,
        _by(("event_type", "bucket"), F.expr("bitmap_or_agg(bm)").alias("bm")),
    )


def read_distinct_rollup(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """Finalized distinct-user counts per event type (exact —
    identical to count(DISTINCT user_id) over all absorbed events)."""
    st = read_version(spark, rollup_dir, version)
    return st.groupBy("event_type").agg(
        F.expr("sum(bitmap_count(bm))").alias("n_distinct_users")
    )


# HLL variant of the distinct rollup: for UNBOUNDED key spaces the
# exact bitmap state grows with the key range; a DataSketches HLL
# sketch is O(k) bytes per group with ~2% error (Spark >= 3.5
# hll_sketch_agg / hll_union_agg — binary, mergeable, storable).

_HLL_STATE_COLS = ("event_type", "hll")


def update_hll_rollup(
    spark: SparkSession, rollup_dir: str, new_events: DataFrame
) -> int:
    """Absorb one event batch into the approximate distinct-user
    rollup (HLL union-merge per event_type)."""
    fresh = new_events.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("hll")
    )
    return _absorb(
        spark, rollup_dir, fresh, _HLL_STATE_COLS,
        _by(("event_type",), F.expr("hll_union_agg(hll)").alias("hll")),
    )


def read_hll_rollup(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    st = read_version(spark, rollup_dir, version)
    return st.select(
        "event_type",
        F.expr("hll_sketch_estimate(hll)").alias("approx_distinct_users"),
    )


# Certifiable-register variant of the HLL rollup: the state is the
# RELATION (event_type, j, m_j) — 256 max-rho registers per group
# from the fixed md5 hash of queries/sketches.py::q_agg_hll_md5 —
# so unlike the DataSketches binary state it is engine-independent,
# diffable, and the read path is the hash-certified Flajolet
# estimator. Merge = max per (event_type, j): absorbing a batch
# touches |rollup| + |batch registers| rows, never history, and the
# register-max algebra is pinned by
# tests/test_round8_properties.py::test_hll_registers_merge_like_rollup_state.

_REG_STATE_COLS = ("event_type", "j", "m_j")


def update_register_rollup(
    spark: SparkSession, rollup_dir: str, new_events: DataFrame
) -> int:
    """Absorb one event batch into the certifiable-register HLL
    rollup; returns the published version."""
    from .queries.sketches import hll_register_rows

    fresh = (
        hll_register_rows(new_events, "user_id", "event_type")
        .groupBy("event_type", "j")
        .agg(F.max("rho").alias("m_j"))
    )
    return _absorb(
        spark, rollup_dir, fresh, _REG_STATE_COLS,
        _by(("event_type", "j"), F.max("m_j").alias("m_j")),
    )


def read_register_rollup(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """Estimated distinct users per event type from the stored
    registers — identical math to q_agg_hll_md5's estimator, so a
    rollup read over N absorbed batches equals the one-shot sketch
    over their union."""
    from .queries.sketches import hll_estimate_registers

    st = read_version(spark, rollup_dir, version)
    return hll_estimate_registers(spark, st, "event_type")


# Bloom-filter rollup: the crawler's PERSISTENT membership filter.
# State = the relation of set bit positions (<= m rows of one long,
# q_dedup_bloom's geometry) — absorbing a batch unions new
# positions (set-OR, the bloom merge), so the steady-state
# incremental-dedup prefilter never re-reads history and its read
# side is exactly the broadcast bit set q_dedup_bloom probes.

_BLOOM_STATE_COLS = ("pos",)


def update_bloom_rollup(
    spark: SparkSession, rollup_dir: str, new_docs: DataFrame
) -> int:
    """Absorb one document batch's content digests into the
    persistent bloom filter; returns the published version."""
    from .queries.dedup import _BLOOM_K, _bloom_pos

    ks = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("j")
    fresh = (
        new_docs.select(F.md5("text").alias("digest"))
        .distinct()
        .select(ks, "digest")
        .select(_bloom_pos(F.col("j"), F.col("digest")).alias("pos"))
    )
    return _absorb(
        spark, rollup_dir, fresh, _BLOOM_STATE_COLS, DataFrame.distinct
    )


def probe_bloom_rollup(
    spark: SparkSession,
    rollup_dir: str,
    docs: DataFrame,
    version: int | None = None,
) -> DataFrame:
    """Check a candidate batch against the persistent filter:
    (doc_id, bloom_hit) — hit=1 means PROBABLY seen (route to the
    exact digest index), hit=0 means DEFINITELY new (skip the
    expensive check; blooms have no false negatives)."""
    from .queries.dedup import _BLOOM_K, _bloom_pos

    bits = read_version(spark, rollup_dir, version).withColumn(
        "hit", F.lit(1)
    )
    ks = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("j")
    return (
        docs.select("doc_id", F.md5("text").alias("digest"))
        .select("doc_id", "digest", ks)
        .withColumn("pos", _bloom_pos(F.col("j"), F.col("digest")))
        .join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id")
        .agg(
            (F.sum(F.coalesce("hit", F.lit(0))) == _BLOOM_K)
            .cast("int")
            .alias("bloom_hit")
        )
    )


# KMV rollup: the persisted k-minimum-values distinct sketch. State
# = the k smallest distinct 60-bit md5 hashes per group (<= k rows
# of one BIGINT each, queries/sketches.py::q_agg_kmv_distinct's
# geometry). Merge = k-smallest of the union — LOSSLESS for the
# estimator (the k-min of a union equals the k-min of merged k-min
# lists), so a rollup read over N absorbed batches equals the
# one-shot sketch over their union EXACTLY, the same contract the
# register-HLL rollup pins. This is the "sketch you would persist"
# the q_agg_kmv_distinct docstring names — delivered, not asserted.

_KMV_STATE_COLS = ("event_type", "h")


def update_kmv_rollup(
    spark: SparkSession, rollup_dir: str, new_events: DataFrame
) -> int:
    """Absorb one event batch into the k-min distinct rollup;
    returns the published version. Absorbing touches
    |rollup state| + |batch distinct hashes| rows, never history."""
    from pyspark.sql import Window

    from .queries.sketches import _KMV_K, kmv_hash_rows

    w = Window.partitionBy("event_type").orderBy("h")

    def k_min(state: DataFrame) -> DataFrame:
        return (
            state.distinct()
            .select(*_KMV_STATE_COLS, F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= _KMV_K)
        )

    fresh = kmv_hash_rows(new_events, "user_id", "event_type")
    return _absorb(spark, rollup_dir, fresh, _KMV_STATE_COLS, k_min)


def read_kmv_rollup(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """(event_type, n_state, kmv_est) from the stored k-min lists —
    identical estimator math to q_agg_kmv_distinct, so the estimate
    equals the one-shot sketch over the union of absorbed batches
    (n_state is the exact distinct count only while below k)."""
    from .queries.sketches import kmv_estimate

    st = read_version(spark, rollup_dir, version)
    return kmv_estimate(st, "event_type")


# Banded-MinHash rollup: the persisted NEAR-dup index. State = one
# row per absorbed doc: the 8 band signatures (queries/corpus.py
# ``minhash_doc_state`` geometry) plus the sorted 16-hex shingle-
# digest set for exact-Jaccard verification. Persisting digests, not
# text, keeps the index O(shingles) bytes and means an increment
# NEVER re-reads or re-shingles history: probing a batch touches the
# signature index (8 short rows/doc after posexplode) plus the
# digest sets of CANDIDATE docs only. Merge = set union of doc rows
# (docs are append-only; a re-absorbed doc_id dedups to the same
# row because the state is a pure function of its text), so a pair
# scan over N absorbed batches equals the one-shot banded scan over
# their union EXACTLY — the q_dedup_minhash_banded contract,
# test-pinned like the KMV/HLL rollups.

_MINHASH_STATE_COLS = ("doc_id", "sigs", "sh")


def _minhash_doc_rows(new_docs: DataFrame) -> DataFrame:
    from .queries.corpus import minhash_doc_state
    from .queries.dedup import _shingles, _spread

    t = _spread(new_docs.select("doc_id", tokens().alias("toks")))
    sh = t.select("doc_id", _shingles().alias("s")).filter(F.size("s") > 0)
    return minhash_doc_state(sh)


def update_minhash_rollup(
    spark: SparkSession, rollup_dir: str, new_docs: DataFrame
) -> int:
    """Absorb one (doc_id, text) batch into the persistent banded-
    MinHash index; returns the published version. Absorbing
    shingles/digests the BATCH only and unions it with
    |rollup state| rows — history text is never re-read."""
    return _absorb(
        spark, rollup_dir, _minhash_doc_rows(new_docs), _MINHASH_STATE_COLS,
        DataFrame.distinct,
    )


def minhash_rollup_pairs(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """(doc_a, doc_b, jaccard) near-dup pairs regenerated from the
    stored index ALONE — row-identical to ``q_dedup_minhash_banded``
    over the union of absorbed batches (Jaccard over the digest
    sets equals Jaccard over the shingle sets; 64-bit slices
    collide at ~n²/2⁶⁵). Same band-bucket pair generation and
    2..cap degenerate guard as the one-shot op."""
    from .queries.corpus import _MINHASH_MAX_BUCKET

    st = read_version(spark, rollup_dir, version)
    sig = st.select("doc_id", F.posexplode("sigs").alias("band", "sig"))
    buckets = (
        sig.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs").between(2, _MINHASH_MAX_BUCKET))
    )
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
        .distinct()
    )
    sa = st.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = st.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        verified.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.3)
        .select("doc_a", "doc_b", "jaccard")
    )


def probe_minhash_rollup(
    spark: SparkSession,
    rollup_dir: str,
    batch_docs: DataFrame,
    version: int | None = None,
) -> DataFrame:
    """(doc_base, doc_batch, jaccard): near-dups of a NEW batch
    against the persisted index WITHOUT absorbing it — the decision
    step a steady-state crawler runs before admitting pages. Batch
    signatures equi-join the stored index on (band, sig); each
    side's degenerate buckets are capped; candidates verify with
    exact digest Jaccard >= 0.3 against ONLY the touched index
    docs. Row-identical to ``q_dedup_minhash_incremental`` when fed
    the same base/batch split (test-pinned)."""
    from .queries.corpus import _MINHASH_MAX_BUCKET

    st = read_version(spark, rollup_dir, version)
    bt = _minhash_doc_rows(batch_docs)
    sig_i = st.select("doc_id", F.posexplode("sigs").alias("band", "sig"))
    sig_b = bt.select("doc_id", F.posexplode("sigs").alias("band", "sig"))
    keep_i = (
        sig_i.groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= _MINHASH_MAX_BUCKET)
        .select("band", "sig")
    )
    keep_b = (
        sig_b.groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= _MINHASH_MAX_BUCKET)
        .select("band", "sig")
    )
    cand = (
        sig_i.join(keep_i, ["band", "sig"])
        .select("band", "sig", F.col("doc_id").alias("doc_base"))
        .join(
            sig_b.join(keep_b, ["band", "sig"]).select(
                "band", "sig", F.col("doc_id").alias("doc_batch")
            ),
            ["band", "sig"],
        )
        .select("doc_base", "doc_batch")
        .distinct()
    )
    sa = st.select(F.col("doc_id").alias("doc_base"), F.col("sh").alias("sh_a"))
    sb = bt.select(F.col("doc_id").alias("doc_batch"), F.col("sh").alias("sh_b"))
    verified = cand.join(sa, "doc_base").join(sb, "doc_batch")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        verified.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.3)
        .select("doc_base", "doc_batch", "jaccard")
    )


# ---------------------------------------------------------------------------
# Semantic-dedup (SemDeDup) rollup: the embedding twin of the MinHash
# index (r11 verdict #3). State per vector is (vec_id, label, v,
# norm) — the coarse IVF cell plus the raw vector and its norm, a
# pure function of the embedding row, so a re-absorbed vec_id dedups
# to the identical state row. Merge = union + dropDuplicates(vec_id).
# The keep-list regenerated from state alone equals q_dedup_semantic
# over the union of absorbed batches EXACTLY (same pair scan, same
# hot-cell cap, same drop-superset rule); the probe judges a NEW
# batch against <state ∪ batch> while pairing only <state ∪ batch,
# batch> — history vectors never pair with each other again, so the
# per-increment cost is |cell|·|cell ∩ batch|, not |cell|².
# ---------------------------------------------------------------------------

_SEMDEDUP_STATE_COLS = ("vec_id", "label", "v", "norm")


def _keep_min_by_digest(state: DataFrame, key: str = "vec_id") -> DataFrame:
    """Deterministic survivor per key (r14 advice): ``dropDuplicates``
    keeps an ARBITRARY row, so a key re-absorbed with a CHANGED
    embedding would make the published state depend on task
    scheduling — the exact nondeterministic-survivor trap the sample
    rollup fixed in r14. Keep the row whose md5 over the payload
    columns is smallest: a pure function of the row's values, so the
    published state is batch-order-independent even if a vec_id's
    embedding ever changes between absorptions (when values are
    immutable per key — the normal contract — this is row-identical
    to dropDuplicates). Cost shape is unchanged: one hash shuffle on
    the key, same as dropDuplicates. The payload list is SORTED so
    the digest is schema-order independent — a caller passing the
    same values with reordered columns elects the same survivor
    (r15 advice)."""
    from pyspark.sql import Window

    payload = sorted(c for c in state.columns if c != key)
    wd = Window.partitionBy(key).orderBy(
        F.md5(F.to_json(F.struct(*payload))).asc()
    )
    return (
        state.withColumn("_rn", F.row_number().over(wd))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _semdedup_vec_rows(new_embeddings: DataFrame) -> DataFrame:
    from .queries.similarity import _vec_state

    return _vec_state(new_embeddings)


def update_semdedup_rollup(
    spark: SparkSession, rollup_dir: str, new_embeddings: DataFrame
) -> int:
    """Absorb one (vec_id, embedding, label) batch into the
    persistent semantic-dedup state; returns the published version.
    History embeddings are never re-read — the union is |rollup
    state| + |batch| rows of already-normed vectors."""
    return _absorb(
        spark, rollup_dir, _semdedup_vec_rows(new_embeddings),
        _SEMDEDUP_STATE_COLS, _keep_min_by_digest,
    )


def semdedup_rollup_keeplist(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """(vec_id, label, kept) regenerated from the stored state ALONE
    — row-identical to ``q_dedup_semantic`` over the union of
    absorbed batches (test-pinned): same blocked salted pair scan,
    same MAX_BLOCK_SIZE cap counted over the full state, same
    lower-id drop-superset rule."""
    from .queries.similarity import _pairs_from_state

    st = read_version(spark, rollup_dir, version).select(*_SEMDEDUP_STATE_COLS)
    dropped = (
        _pairs_from_state(st)
        .select(F.col("vec_b").alias("d_id"))
        .distinct()
    )
    return st.join(dropped, st.vec_id == F.col("d_id"), "left").select(
        "vec_id",
        "label",
        F.when(F.col("d_id").isNull(), 1).otherwise(0).alias("kept"),
    )


def probe_semdedup_rollup(
    spark: SparkSession,
    rollup_dir: str,
    batch_embeddings: DataFrame,
    version: int | None = None,
) -> DataFrame:
    """(vec_id, label, kept) for a NEW embedding batch judged
    against the persisted corpus WITHOUT absorbing it — the decision
    step a curation job runs before admitting vectors. The hot-cell
    cap counts <state ∪ batch> (parity with the one-shot op on the
    union); the pair scan's b-side is restricted to the batch, so
    only |cell|·|cell ∩ batch| dot products are computed.
    Row-identical to ``q_dedup_semantic_incremental`` when fed the
    same base/batch split (test-pinned)."""
    from .queries.similarity import _pairs_from_state

    st = read_version(spark, rollup_dir, version).select(*_SEMDEDUP_STATE_COLS)
    bt = _semdedup_vec_rows(batch_embeddings)
    union = st.unionByName(bt.select(*_SEMDEDUP_STATE_COLS)).dropDuplicates(
        ["vec_id"]
    )
    dropped = (
        _pairs_from_state(union, b_side=bt.select("vec_id"))
        .select(F.col("vec_b").alias("d_id"))
        .distinct()
    )
    return bt.join(dropped, bt.vec_id == F.col("d_id"), "left").select(
        "vec_id",
        "label",
        F.when(F.col("d_id").isNull(), 1).otherwise(0).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Occupancy-ADAPTIVE semantic-dedup rollup (r13 verdict #7): the
# persisted-state twin of q_dedup_semantic_adaptive — the declared
# production spelling of semantic dedup. State per vector adds the
# 8-bit refinement SIGNATURE (a pure per-vector function, so
# re-absorption still dedups to the identical row) to the fixed-grid
# state; the refinement DIVISOR is deliberately NOT stored — it is a
# function of current cell occupancy and is recomputed at read time,
# which is exactly how the grid subdivides as the corpus grows. The
# keeplist regenerated from state alone equals the one-shot adaptive
# query over the union of absorbed batches; the probe judges a new
# batch with the pair scan's b-side restricted to the batch.
# ---------------------------------------------------------------------------

_SEMA_STATE_COLS = ("vec_id", "label", "v", "norm", "sig")


def _sema_vec_rows(new_embeddings: DataFrame) -> DataFrame:
    from .queries.similarity import _vec_state, sem_refine_sig

    e = _vec_state(new_embeddings)
    eq = new_embeddings.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)),
        ).alias("eq"),
    )
    sig = sem_refine_sig(eq).withColumnRenamed("__sig", "sig")
    return e.join(sig, "vec_id").select(*_SEMA_STATE_COLS)


def update_semdedup_adaptive_rollup(
    spark: SparkSession, rollup_dir: str, new_embeddings: DataFrame
) -> int:
    """Absorb one (vec_id, embedding, label) batch into the adaptive
    semantic-dedup state; returns the published version. Merge =
    union + deterministic min-digest survivor per vec_id
    (``_keep_min_by_digest``) — every state column is a pure
    function of the embedding row, so re-absorption is idempotent
    (no HWM needed, the deterministic-key class), and the survivor
    stays batch-order-independent even if a vec_id were ever
    re-absorbed with a changed embedding."""
    return _absorb(
        spark, rollup_dir, _sema_vec_rows(new_embeddings), _SEMA_STATE_COLS,
        _keep_min_by_digest,
    )


def _sema_cells(st: DataFrame) -> DataFrame:
    from .queries.similarity import adaptive_cells

    return adaptive_cells(
        st.select(
            "vec_id", "label", "v", "norm", F.col("sig").alias("__sig")
        )
    )


def semdedup_adaptive_keeplist(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """(vec_id, label, kept) regenerated from the stored state ALONE
    — row-identical to ``q_dedup_semantic_adaptive`` over the union
    of absorbed batches (test-pinned): the divisor ladder re-derives
    from current occupancies, so a cell that crossed the 512 target
    since the last absorb is judged on its REFINED subcells."""
    from .queries.similarity import _pairs_from_state

    st = read_version(spark, rollup_dir, version).select(*_SEMA_STATE_COLS)
    dropped = (
        _pairs_from_state(_sema_cells(st))
        .select(F.col("vec_b").alias("d_id"))
        .distinct()
    )
    return st.join(dropped, st.vec_id == F.col("d_id"), "left").select(
        "vec_id",
        "label",
        F.when(F.col("d_id").isNull(), 1).otherwise(0).alias("kept"),
    )


def probe_semdedup_adaptive_rollup(
    spark: SparkSession,
    rollup_dir: str,
    batch_embeddings: DataFrame,
    version: int | None = None,
) -> DataFrame:
    """(vec_id, label, kept) for a NEW embedding batch judged
    against the persisted corpus WITHOUT absorbing it — the adaptive
    twin of :func:`probe_semdedup_rollup`. Occupancies (and so the
    refinement ladder) count <state ∪ batch>, parity with the
    one-shot adaptive op on the union; the pair scan's b-side is
    restricted to the batch, so only |cell|·|cell ∩ batch| dot
    products run. Pinned row-identical to
    ``q_dedup_semantic_adaptive`` over the union restricted to batch
    rows (the drop rule is pairwise — it never reads kept status —
    so the restriction is exact, the q_dedup_semantic_incremental
    argument)."""
    from .queries.similarity import _pairs_from_state

    st = read_version(spark, rollup_dir, version).select(*_SEMA_STATE_COLS)
    bt = _sema_vec_rows(batch_embeddings)
    union = st.unionByName(bt).dropDuplicates(["vec_id"])
    dropped = (
        _pairs_from_state(_sema_cells(union), b_side=bt.select("vec_id"))
        .select(F.col("vec_b").alias("d_id"))
        .distinct()
    )
    return bt.join(dropped, bt.vec_id == F.col("d_id"), "left").select(
        "vec_id",
        "label",
        F.when(F.col("d_id").isNull(), 1).otherwise(0).alias("kept"),
    )


def theta_overlap_from_kmv_rollup(
    spark: SparkSession,
    rollup_dir: str,
    type_a: str,
    type_b: str,
    version: int | None = None,
) -> DataFrame:
    """(th, cnt_u, cnt_i, cnt_d, est_union, est_inter, est_diff) for
    the audience overlap of two event types, computed from the
    PERSISTED k-min rollup state alone — the read-time payoff of
    theta-frame set algebra (queries/sketches.py
    ``q_agg_theta_setops``): the same k-min lists the distinct-count
    rollup maintains answer ANY union/intersection/difference
    question between absorbed groups without re-reading a single
    event. Estimator math is pinned test-identical to a theta replay
    over the full relation's k-min lists (lossless k-min merge, the
    update_kmv_rollup contract)."""
    from .queries.sketches import _KMV_M, _THETA_K

    st = read_version(spark, rollup_dir, version)
    m_int = F.lit(1 << 60).cast("long")

    def side(t: str, name: str) -> DataFrame:
        return (
            st.filter(F.col("event_type") == t)
            .agg(F.array_sort(F.collect_list("h")).alias(name))
        )

    def theta_of(arr: str):
        return F.when(
            F.size(arr) >= _THETA_K, F.element_at(arr, _THETA_K)
        ).otherwise(m_int)

    out = (
        side(type_a, "arr_a")
        .crossJoin(side(type_b, "arr_b"))
        .withColumn("th", F.least(theta_of("arr_a"), theta_of("arr_b")))
        .withColumn("fa", F.filter("arr_a", lambda x: x < F.col("th")))
        .withColumn("fb", F.filter("arr_b", lambda x: x < F.col("th")))
        .select(
            "th",
            F.size(F.array_union("fa", "fb")).cast("long").alias("cnt_u"),
            F.size(F.array_intersect("fa", "fb")).cast("long").alias("cnt_i"),
            F.size(F.array_except("fa", "fb")).cast("long").alias("cnt_d"),
        )
    )
    scale = F.lit(_KMV_M) / F.col("th").cast("double")
    return out.select(
        "th",
        "cnt_u",
        "cnt_i",
        "cnt_d",
        F.round(F.col("cnt_u").cast("double") * scale, 4).alias("est_union"),
        F.round(F.col("cnt_i").cast("double") * scale, 4).alias("est_inter"),
        F.round(F.col("cnt_d").cast("double") * scale, 4).alias("est_diff"),
    )


# Equi-width histogram rollup: the mergeable-quantile state. Counts
# are a vector monoid (merge = per-cell ADD — the simplest algebra
# in the family: HLL max, bloom OR, KMV min-k, MinHash set-union,
# histogram sum), so absorbing N batches then reading percentiles
# equals the one-shot histogram percentile over the union EXACTLY
# (integer counts; the interpolation is a pure function of the
# merged cells).

_HIST_STATE_COLS = ("c_mktsegment", "bucket", "cnt")


def update_histogram_rollup(
    spark: SparkSession, rollup_dir: str, new_customers: DataFrame
) -> int:
    """Absorb one customer batch into the per-segment equi-width
    balance histogram (queries/sketches.py ``q_agg_histo_percentile``
    geometry: _HP_LO/_HP_W/_HP_B); returns the published version.
    State stays <= segments x 64 rows regardless of volume."""
    from .queries.sketches import _HP_B, _HP_LO, _HP_W

    bucket = F.least(
        F.floor((F.col("c_acctbal") - _HP_LO) / _HP_W), F.lit(_HP_B - 1)
    ).cast("int")
    fresh = new_customers.groupBy(
        "c_mktsegment", bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return _absorb(
        spark, rollup_dir, fresh, _HIST_STATE_COLS,
        _by(("c_mktsegment", "bucket"), F.sum("cnt").alias("cnt")),
    )


def read_histogram_percentiles(
    spark: SparkSession,
    rollup_dir: str,
    version: int | None = None,
) -> DataFrame:
    """(c_mktsegment, p, est) p50/p90 interpolated from the stored
    cells alone — identical estimator math to
    ``q_agg_histo_percentile`` (first bucket whose cumulative count
    reaches p*n, linear interpolation inside it), so the read equals
    the one-shot estimate over the union of absorbed batches."""
    from pyspark.sql import Window

    from .queries.sketches import _HP_LO, _HP_W

    st = read_version(spark, rollup_dir, version)
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hc = st.withColumn("cum", F.sum("cnt").over(w))
    seg = st.groupBy("c_mktsegment").agg(F.sum("cnt").alias("n"))
    ps = seg.select(
        "c_mktsegment", "n", F.explode(F.array(F.lit(0.5), F.lit(0.9))).alias("p")
    )
    sel = (
        ps.join(hc, "c_mktsegment")
        .filter(F.col("cum") >= F.col("p") * F.col("n"))
        .groupBy("c_mktsegment", "p", "n")
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
        .select("c_mktsegment", "p", est.alias("est"))
    )


# Window-digest rollup: the incremental EXACT-SUBSTRING index.
# State = one row per distinct 8-token window content: its md5, the
# globally-first occurrence (min (doc_id, position) across every
# absorbed batch) and the total occurrence count. Merge = per-digest
# (min first, sum count) — so cutting a new crawl batch against the
# merged state reproduces q_dedup_substring_cut over the union of
# batches WITHOUT re-reading or re-windowing history text (the
# minhash-index contract, exact-substring edition). Contract:
# batches are disjoint doc sets (append-only crawl); re-absorbing a
# batch would double-count occurrences.

_SUBSTR_STATE_COLS = ("h", "first_doc", "first_i", "n_occ")


def _window_state(new_docs: DataFrame) -> DataFrame:
    from .queries.dedup import _windows

    d = new_docs.select("doc_id", tokens().alias("toks"))
    return (
        _windows(d)
        .groupBy("h")
        .agg(
            F.min(F.struct("doc_id", "i")).alias("f"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .select(
            "h",
            F.col("f.doc_id").alias("first_doc"),
            F.col("f.i").alias("first_i"),
            "n_occ",
        )
    )


def update_windowdigest_rollup(
    spark: SparkSession, rollup_dir: str, new_docs: DataFrame
) -> int:
    """Absorb one (doc_id, text) batch into the window-digest index;
    returns the published version. State is one 32-byte-keyed row
    per DISTINCT window content — boilerplate collapses map-side
    exactly as in the one-shot query's digest agg."""

    def first_and_count(state: DataFrame) -> DataFrame:
        return (
            state.groupBy("h")
            .agg(
                F.min(F.struct("first_doc", "first_i")).alias("f"),
                F.sum("n_occ").alias("n_occ"),
            )
            .select("h", "f.first_doc", "f.first_i", "n_occ")
        )

    return _absorb(
        spark, rollup_dir, _window_state(new_docs), _SUBSTR_STATE_COLS,
        first_and_count,
    )


def probe_substring_cut(
    spark: SparkSession,
    rollup_dir: str,
    batch_docs: DataFrame,
    version: int | None = None,
) -> DataFrame:
    """Cut a batch's documents against the persisted window-digest
    index (which must already include the batch — absorb first,
    then probe): emits the q_dedup_substring_cut row for every
    batch doc, test-pinned identical to the one-shot query over the
    union of absorbed batches restricted to the batch's doc_ids.
    Only the BATCH is re-windowed; history contributes nothing but
    its merged (first, count) state rows for the touched digests."""
    from .queries.dedup import _reassemble_cut, _windows

    st = read_version(spark, rollup_dir, version)
    d = batch_docs.select("doc_id", tokens().alias("toks"))
    wins = _windows(d)
    dup = wins.join(st, "h").filter(
        (F.col("n_occ") >= 2)
        & ~(
            (F.col("doc_id") == F.col("first_doc"))
            & (F.col("i") == F.col("first_i"))
        )
    )
    return _reassemble_cut(d, dup.select("doc_id", "i"))


# ---------------------------------------------------------------------------
# Drift-monitor rollup: the q_drift_psi report made incremental. The
# monitor's state is per-(feature, bin, side) counts — plain BIGINT
# sums, the simplest mergeable monoid in the file — so each landing
# batch absorbs with one partial agg over the BATCH plus a merge over
# |state| + |batch partials| rows; the corpus is never re-scanned.
# State size follows the monitored-feature bin count (policy-bounded),
# not the corpus. read_drift_psi finalizes the identical report the
# one-shot query computes (pinned row-identical in test_scale_features).
# ---------------------------------------------------------------------------

_DRIFT_STATE_COLS = ("feature", "bin", "n_ref", "n_cur")


def update_drift_rollup(
    spark: SparkSession,
    rollup_dir: str,
    new_docs: DataFrame,
    batch_id: int | None = None,
) -> int:
    """Absorb one document batch into the drift-count state; returns
    the published version. First call bootstraps.

    The plain-sum monoid is NOT idempotent, and Structured Streaming
    foreachBatch is at-least-once into non-transactional sinks — a
    replayed batch would double-count (ADVICE r12). Passing the
    foreachBatch ``batch_id`` engages the high-water mark of
    :func:`_absorb`: ids ≤ the mark published with the current
    version are skipped (returning that version unchanged).
    Single-writer, like every rollup here (one foreachBatch executes
    at a time)."""
    from .queries.dq import drift_counts

    return _absorb(
        spark, rollup_dir, drift_counts(new_docs), _DRIFT_STATE_COLS,
        _by(
            ("feature", "bin"),
            F.sum("n_ref").alias("n_ref"),
            F.sum("n_cur").alias("n_cur"),
        ),
        batch_id,
    )


def read_drift_psi(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """The PSI report finalized from the persisted counts — same
    smoothing, same round-6 terms as ``q_drift_psi``; row-identical
    to the one-shot query over the union of absorbed batches."""
    from .queries.dq import psi_report

    return psi_report(
        read_version(spark, rollup_dir, version).select(*_DRIFT_STATE_COLS)
    )


def read_drift_emd(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """The q_drift_emd report finalized from the SAME persisted
    drift-count state update_drift_rollup maintains — one rollup,
    two finalizers (PSI reads every feature; EMD reads the ordinal
    'len' feature's rows, whose bin key is the stringified
    n_chars/25 bucket). Finalization — grid densification, the
    cross-multiplied BIGINT ECDF terms, the single round-6 division
    — is the SHARED ``queries.dq.emd_report`` (ADVICE r12: the two
    inline copies could drift apart); pinned row-identical to the
    one-shot query over the absorbed union."""
    from .queries.dq import emd_report

    cnt = (
        read_version(spark, rollup_dir, version)
        .where(F.col("feature") == "len")
        .select(
            F.col("bin").cast("int").alias("bin"),
            F.col("n_ref").alias("cr"),
            F.col("n_cur").alias("cc"),
        )
    )
    return emd_report(cnt)


# ---------------------------------------------------------------------------
# Perceptual-hash rollup: q_multimodal_phash_dedup made incremental —
# the image twin of the MinHash index. State is one 8-byte hash per
# doc (doc_id, phash); a new landing batch hashes its OWN payloads
# only, unions into the state, and probes against the persisted
# corpus via the banded join with the b-side restricted to the batch
# (|bucket|·|bucket ∩ batch| work — history never re-pairs, history
# PAYLOADS are never re-read; only their 8-byte hashes live on).
# ---------------------------------------------------------------------------

_PHASH_STATE_COLS = ("doc_id", "phash")


def update_phash_rollup(
    spark: SparkSession, rollup_dir: str, new_docs: DataFrame
) -> int:
    """Hash one new document batch and absorb it into the phash
    state; returns the published version. Re-absorbing a doc_id is
    idempotent (hash is a pure function of the payload; state
    dedupes on doc_id keeping either identical row)."""
    from .queries.multimodal_q import phash_frame

    return _absorb(
        spark, rollup_dir, phash_frame(new_docs), _PHASH_STATE_COLS,
        _by(("doc_id",), F.min("phash").alias("phash")),
    )


def phash_rollup_pairs(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """All near-dup pairs over the absorbed corpus, from state alone
    — pinned row-identical to the one-shot q_multimodal_phash_dedup
    over the union of absorbed batches."""
    from .queries.multimodal_q import phash_pairs

    return phash_pairs(
        read_version(spark, rollup_dir, version).select(*_PHASH_STATE_COLS)
    )


def probe_phash_rollup(
    spark: SparkSession, rollup_dir: str, batch_ids: DataFrame
) -> DataFrame:
    """Near-dup verdict for a batch against the WHOLE absorbed
    corpus without re-pairing history: pairs whose b-side is
    restricted to the batch — a batch doc with any lower-id match
    (corpus or batch) appears as doc_b, the SemDeDup drop rule."""
    from .queries.multimodal_q import phash_pairs

    state = read_version(spark, rollup_dir).select(*_PHASH_STATE_COLS)
    return phash_pairs(state, b_side=batch_ids)


# ---------------------------------------------------------------------------
# Soft-dedup weight rollup: q_dedup_soft_weights made incremental —
# the duplication-aware sampling weights are pure functions of the
# per-digest cluster counts, and counts are a plain-sum monoid. State
# = (norm_digest, n, mn): 32-byte digest + copy count + smallest
# doc_id, absorbed batch by batch (O(batch + |state|) per update,
# history text never re-read). Because weights SHRINK as more copies
# arrive, the read-time finalizer always reflects the whole absorbed
# corpus — exactly what a sampler wants between crawls. Replay-safe
# via the shared batch high-water mark (plain sums double-count on
# foreachBatch replay otherwise — the drift-rollup lesson).
# ---------------------------------------------------------------------------

_SOFT_STATE_COLS = ("norm_digest", "n", "mn")


def _soft_partial(new_docs: DataFrame) -> DataFrame:
    from .cleaning import clean_chain

    return (
        new_docs.select(
            "doc_id", F.md5(clean_chain(F.col("text"))).alias("norm_digest")
        )
        .groupBy("norm_digest")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("mn"))
    )


def update_softdedup_rollup(
    spark: SparkSession,
    rollup_dir: str,
    new_docs: DataFrame,
    batch_id: int | None = None,
) -> int:
    """Absorb one document batch into the digest-count state;
    returns the published version. First call bootstraps. With a
    foreachBatch ``batch_id``, replayed ids ≤ the published
    high-water mark are skipped (plain-sum monoid + at-least-once
    delivery = double count otherwise)."""
    return _absorb(
        spark, rollup_dir, _soft_partial(new_docs), _SOFT_STATE_COLS,
        _by(("norm_digest",), F.sum("n").alias("n"), F.min("mn").alias("mn")),
        batch_id,
    )


def read_softdedup_weights(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """Cluster-level soft-dedup weights finalized from the persisted
    counts: (norm_digest, dup_count, keeper_doc_id, soft_weight) —
    join ``q_dedup_soft_weights``'s per-doc view back on the digest.
    Pinned row-identical (at digest grain) to the one-shot query
    over the union of absorbed batches."""
    st = read_version(spark, rollup_dir, version)
    return st.select(
        "norm_digest",
        F.col("n").alias("dup_count"),
        F.col("mn").alias("keeper_doc_id"),
        F.round(F.lit(1.0) / F.col("n"), 6).alias("soft_weight"),
    )


# ---------------------------------------------------------------------------
# Reservoir-sample rollup: a corpus-wide uniform sample MAINTAINED
# across crawls without ever rescanning history. "k smallest
# md5-derived keys" is a mergeable monoid — min-k(A ∪ B) =
# min-k(min-k(A) ∪ min-k(B)) — so the state is just the current
# winners (≤ k rows); each batch computes its own top-k candidates
# (TakeOrderedAndProject, no shuffle of the batch) and the merge
# re-ranks ≤ 2k rows. The keys are the q_sample_weighted hash-uniform
# construction with weight 1 (uniform), so the maintained sample is
# EXACTLY what the one-shot order-by-key query would pick over the
# union — pinned by a chunks ≡ one-shot test. The deterministic-key
# trick also makes re-absorbing a doc_id idempotent (same key, the
# distinct keeps one copy) — no HWM needed, unlike the plain-sum
# rollups.
# ---------------------------------------------------------------------------

_SAMPLE_STATE_COLS = ("doc_id", "lang", "sample_key")
SAMPLE_ROLLUP_K = 50


def _sample_keys(new_docs: DataFrame) -> DataFrame:
    u = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        % F.lit(1_000_000_000)
        + 1
    ) / F.lit(1_000_000_001.0)
    return new_docs.select(
        "doc_id", "lang", F.round(u, 9).alias("sample_key")
    )


def update_sample_rollup(
    spark: SparkSession,
    rollup_dir: str,
    new_docs: DataFrame,
    k: int = SAMPLE_ROLLUP_K,
) -> int:
    """Absorb one document batch into the maintained uniform sample;
    returns the published version. Per batch: the batch's own top-k
    candidates (per-partition top-k + k-merge — the batch never
    shuffles), then a ≤ 2k-row re-rank against the persisted
    winners. NULL keys (null text) sort last, as in
    q_sample_weighted."""
    from pyspark.sql import Window

    rank = (F.asc_nulls_last("sample_key"), F.asc_nulls_last("doc_id"))
    # Deterministic survivor per doc_id (r13 advice): if a doc_id is
    # re-absorbed with CHANGED text, its sample_key differs between
    # the persisted row and the fresh one — dropDuplicates would keep
    # an arbitrary copy and silently break the chunks ≡ one-shot pin.
    # Keep the MIN sample_key (nulls last, lang as final tiebreak),
    # which is also what the one-shot query over the union would rank
    # by. ≤ 2k rows here, so the window is trivial.
    wd = Window.partitionBy("doc_id").orderBy(
        F.asc_nulls_last("sample_key"), F.asc_nulls_last("lang")
    )

    def top_k(state: DataFrame) -> DataFrame:
        return (
            state.withColumn("_rn", F.row_number().over(wd))
            .filter(F.col("_rn") == 1)
            .orderBy(*rank)
            .limit(k)
        )

    fresh = _sample_keys(new_docs).orderBy(*rank).limit(k)
    return _absorb(spark, rollup_dir, fresh, _SAMPLE_STATE_COLS, top_k)


def read_sample_rollup(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """The maintained k-row uniform sample (doc_id, lang,
    sample_key)."""
    return read_version(spark, rollup_dir, version).select(*_SAMPLE_STATE_COLS)


# ---------------------------------------------------------------------------
# End-to-end curation rollup (r15): ingest-time curation. The batch
# composition q_llm_curation_semantic (queries/corpus.py) answers
# "curate this corpus"; a 100 TB ingest needs "curate each arriving
# partition WITHOUT re-reading history" — exact dedup against the
# persisted digest set, semantic dedup against the persisted
# embedding state, quality + split computed once at absorb time.
# Storage is the same publish_version pointer-flip as every rollup.
# ---------------------------------------------------------------------------

_CURATION_STATE_COLS = ("norm_digest", "doc_id", "q_ok")

#: digest-keyed banded-MinHash state for the ingest-time lexical
#: near-dup stage (r16): sigs/sh are PURE functions of the
#: normalized text = of the digest, so a digest's state row is
#: identical however often and in whatever order it is re-absorbed.
_CURATION_ND_STATE_COLS = ("norm_digest", "sigs", "sh")


def _curation_nd_rows(kb: DataFrame) -> DataFrame:
    """(norm_digest, sigs, sh) MinHash state over a keeper batch's
    normalized text — ``minhash_doc_state`` keyed by the DIGEST
    rather than the doc_id, so the near-dup index survives keeper
    re-election (a later batch bringing a smaller doc_id for the
    same digest changes the keeper, not the text, and therefore not
    this row)."""
    from .queries.corpus import minhash_doc_state
    from .queries.dedup import _shingles

    sh = (
        kb.select(
            F.col("norm_digest").alias("doc_id"),
            F.split(F.trim("__nm"), r"\s+").alias("toks"),
        )
        .select("doc_id", _shingles().alias("s"))
        .filter(F.size("s") > 0)
    )
    return minhash_doc_state(sh).select(
        F.col("doc_id").alias("norm_digest"), "sigs", "sh"
    )


def update_curation_rollup(
    spark: SparkSession,
    rollup_dir: str,
    new_docs: DataFrame,
    new_embeddings: DataFrame | None = None,
    neardup: bool = False,
) -> int:
    """Absorb one document batch into the persisted curation state;
    returns the published version of the doc state.

    Per batch: normalize -> keep-first exact dedup WITHIN the batch
    (min doc_id per digest, the curate() rule) -> anti-join against
    the already-absorbed digest set (one shuffle on the 32-byte key;
    history text is never re-read) -> store (norm_digest, keeper
    doc_id, quality flag). The quality flag is computed ONCE here —
    a pure function of the normalized text, so it travels with the
    state row. ``new_embeddings`` (if given) rides into the adaptive
    semantic rollup under ``<rollup_dir>/sem`` so the semantic
    judgment regenerates from state at read time. ``neardup=True``
    (r16) additionally absorbs the batch keepers' digest-keyed
    banded-MinHash state under ``<rollup_dir>/nd`` so
    :func:`curation_keeplist` can regenerate the LEXICAL near-dup
    judgment from state alone — the ingest-time twin of
    ``q_llm_curation_neardup``'s near-dup stage. The nd merge is
    ``dropDuplicates(norm_digest)`` over rows that are pure
    functions of the digest, so it is batch-order independent and
    idempotent by construction (the deterministic-key rollup class —
    no HWM, no survivor election needed).

    Contract (test-pinned): the absorbed keeper per digest is the
    global min-doc_id keeper over ALL absorbed batches in ANY
    arrival order — the merge re-elects min_by(doc_id) per digest
    across prev ∪ fresh (same single hash shuffle on the digest key
    as the old left_anti spelling, which silently kept the
    first-absorbed keeper under out-of-order batches — r15 advice),
    so :func:`curation_keeplist` is row-identical to the one-shot
    ``curation.curate(union, semantic_keep=...)`` regardless of
    batch order. Re-absorbing a batch is idempotent by the same
    rule, so delivery is at-least-once-safe without an HWM."""
    from .cleaning import clean_chain
    from .curation import MIN_TOKENS

    docs_dir = os.path.join(rollup_dir, "docs")
    norm = clean_chain(F.col("text"))
    d = new_docs.select(
        "doc_id", F.md5(norm).alias("norm_digest"), norm.alias("__nm")
    )
    kb = d.groupBy("norm_digest").agg(
        F.min_by(F.struct("doc_id", "__nm"), F.col("doc_id")).alias("w")
    ).select(
        "norm_digest",
        F.col("w.doc_id").alias("doc_id"),
        F.col("w.__nm").alias("__nm"),
    )
    if neardup:
        # two consumers of the normalized batch (doc state + nd
        # state) — checkpoint once so clean_chain runs once (the r14
        # double-consumer lesson)
        kb = kb.localCheckpoint()
    keeper = kb.select(
        "norm_digest",
        "doc_id",
        (F.size(F.split(F.trim("__nm"), r"\s+")) >= MIN_TOKENS)
        .cast("bigint")
        .alias("q_ok"),
    )

    def min_keeper(state: DataFrame) -> DataFrame:
        return (
            state.groupBy("norm_digest")
            .agg(F.min_by(F.struct("doc_id", "q_ok"), F.col("doc_id")).alias("w"))
            .select("norm_digest", "w.doc_id", "w.q_ok")
        )

    v = _absorb(spark, docs_dir, keeper, _CURATION_STATE_COLS, min_keeper)
    if neardup:
        _absorb(
            spark, os.path.join(rollup_dir, "nd"), _curation_nd_rows(kb),
            _CURATION_ND_STATE_COLS,
            lambda state: state.dropDuplicates(["norm_digest"]),
        )
    if new_embeddings is not None:
        update_semdedup_adaptive_rollup(
            spark, os.path.join(rollup_dir, "sem"), new_embeddings
        )
    return v


def _apply_neardup_keeplist(
    spark: SparkSession, st: DataFrame, nd_dir: str
) -> DataFrame:
    """Filter the curation doc state by the LEXICAL near-dup
    judgment regenerated from the persisted digest-keyed MinHash
    state: band buckets -> df-capped in-bucket pairs -> exact
    digest-set Jaccard >= 0.3 (the ``minhash_rollup_pairs``
    machinery over digests) -> ``graph.components`` over the
    digest pair graph -> per cluster keep ONLY the digest whose
    CURRENT keeper doc_id is the cluster minimum. Because keeper
    doc_ids are global minima per digest (the order-independent
    merge), the cluster minimum equals the min doc_id over all docs
    in the cluster — exactly ``q_llm_curation_neardup``'s canonical
    rule, whatever order batches arrived in. One anti-join on the
    digest key; document text is never touched."""
    from .queries.corpus import _MINHASH_MAX_BUCKET
    from .queries.graph import components

    ndst = read_version(spark, nd_dir).select(*_CURATION_ND_STATE_COLS)
    sig = ndst.select(
        "norm_digest", F.posexplode("sigs").alias("band", "sig")
    )
    buckets = (
        sig.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("norm_digest")).alias("docs"))
        .filter(F.size("docs").between(2, _MINHASH_MAX_BUCKET))
    )
    cand = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("docs"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("docs"), i + 2, F.size(F.col("docs"))
                            ),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("dg_a"), F.col("p.b").alias("dg_b"))
        .distinct()
    )
    sa = ndst.select(F.col("norm_digest").alias("dg_a"), F.col("sh").alias("sh_a"))
    sb = ndst.select(F.col("norm_digest").alias("dg_b"), F.col("sh").alias("sh_b"))
    verified = cand.join(sa, "dg_a").join(sb, "dg_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    pairs = (
        verified.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.3)
        .select(F.col("dg_a").alias("u"), F.col("dg_b").alias("v"))
    )
    lab = components(pairs, caller="curation_nd_keeplist")
    clustered = st.join(lab, st.norm_digest == lab.node)
    mins = clustered.groupBy("cluster_id").agg(
        F.min("doc_id").alias("__min_doc")
    )
    drop = (
        clustered.join(mins, "cluster_id")
        .filter(F.col("doc_id") != F.col("__min_doc"))
        .select("norm_digest")
    )
    return st.join(drop, "norm_digest", "left_anti")


def curation_keeplist(
    spark: SparkSession, rollup_dir: str, version: int | None = None
) -> DataFrame:
    """Curated rows (doc_id, norm_digest, split) regenerated from
    the persisted state ALONE: exact-dedup keepers, minus keepers
    judged LEXICAL near-duplicates (the digest-keyed MinHash state
    under ``<rollup_dir>/nd``, when the ingest absorbed it), minus
    keepers judged semantic duplicates (the adaptive keeplist over
    the absorbed embedding state, joined doc_id ↔ vec_id), minus
    quality failures, split by digest hash so duplicates co-travel.
    For any batch arrival order this is row-identical to
    ``curation.curate(union_of_batches, semantic_keep=...,
    neardup_keep=...)`` (test-pinned). One digest-set
    scan + one 8-byte-key join (+ one digest anti-join for the
    near-dup stage); document text is never touched."""
    from .queries.sampling import hash_bucket

    docs_dir = os.path.join(rollup_dir, "docs")
    st = read_version(spark, docs_dir, version).select(*_CURATION_STATE_COLS)
    nd_dir = os.path.join(rollup_dir, "nd")
    if latest_version(nd_dir) is not None:
        st = _apply_neardup_keeplist(spark, st, nd_dir)
    sem_dir = os.path.join(rollup_dir, "sem")
    if latest_version(sem_dir) is not None:
        sk = semdedup_adaptive_keeplist(spark, sem_dir).select(
            F.col("vec_id").alias("__sk_id"), F.col("kept").alias("__sk_kept")
        )
        st = (
            st.join(sk, st.doc_id == sk.__sk_id, "left")
            .filter(F.coalesce("__sk_kept", F.lit(1)) == 1)
            .drop("__sk_id", "__sk_kept")
        )
    bucket = hash_bucket(F.col("norm_digest"))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return st.filter(F.col("q_ok") == 1).select(
        "doc_id", "norm_digest", split.alias("split")
    )
