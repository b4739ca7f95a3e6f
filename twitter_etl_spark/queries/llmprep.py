"""LLM training-data preparation operators (SURVEY.md §2.6 [EXT]).

The round-2/3 corpus family covers dedup / similarity / quality
scoring; this module adds the remaining steps a pretraining data
pipeline runs between "curated documents" and "tensors on GPUs":

- **sequence packing** (``q_pack_sequences``): concat-and-chunk
  packing of documents into fixed-size context windows — the step
  that turns a corpus into training examples. Expressed as a
  *partitioned* running sum (window per ``source`` shard), so at
  100 TB each shard packs independently: no global sort, no driver
  loop, one shuffle on the shard key.
- **RAG chunking** (``q_text_chunk_overlap``): overlapping token
  windows per document — a pure per-row projection
  (``sequence`` + ``slice`` + ``explode``), no shuffle at all.
- **BM25 scoring** (``q_text_bm25``): the classic retrieval score
  for a fixed query-term set. One corpus pass computes per-doc term
  frequencies JVM-side (``filter`` higher-order function — no
  explode, no per-term shuffle); corpus statistics (N, avgdl, df)
  reduce to ONE row and broadcast back, so the big side is touched
  exactly once.
- **Gopher-style quality gates** (``q_quality_gopher``): the
  published repetition/length/symbol rule family as integer-exact
  per-row flags + one aggregation, mirroring Rae et al. 2021
  (Gopher) §A1.1 rules re-expressed over the fixture schema.

Plus two warehouse staples the inventory still lacked:

- **SCD2 history build** (``q_scd2_history``): change-point
  compaction of an event log into validity intervals (lag/lead
  windows partitioned by the entity key — scales with users, not
  with total events).
- **skew diagnostics** (``q_skew_diagnose``): the operational query
  you run *before* choosing a join strategy at 100 TB — per-key
  frequency of the heaviest keys and their ratio to the mean.

Reference parity: the reference (main.R) has no packing/retrieval
surface; these are [EXT] rows mandated by the driver contract's
large-scale-training-pipeline clause. Cross-engine notes: all
floats rounded at 6 (transcendental) / 4 (ratios); BM25 per-term
scores are combined in a FIXED left-to-right order on both engines
(sum order over grouped doubles is engine-dependent otherwise);
chunk text compared as md5; empty array_join coalesced (DuckDB
``array_to_string([])`` is NULL, Spark ``array_join`` is '').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cleaning import SQL_TOKENS, tokens
from ..tables import table

#: context window (tokens) for sequence packing — small enough that
#: sf0.01 fixture docs produce multi-pack shards, structurally
#: identical to a 2k/8k window at scale.
PACK_CTX = 512

#: RAG chunk geometry: window of 32 tokens, stride 24 (8 overlap).
CHUNK_W = 32
CHUNK_S = 24

#: BM25 hyperparameters (Robertson/Sparck Jones defaults).
BM25_K1 = 1.2
BM25_B = 0.75

#: fixed query-term set for the BM25 demo (fixture vocabulary).
BM25_TERMS = ("spark", "error", "fast")


def _eq_term(term: str):
    # single-arg closure: a two-param lambda would be read by PySpark
    # as an (element, index) higher-order function
    return lambda x: x == F.lit(term)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: within each ``source``
    shard, documents are laid end-to-end in ``doc_id`` order and cut
    every ``PACK_CTX`` tokens; a document belongs to the pack where
    its first token lands. Output: one row per (shard, pack) with
    doc and token counts.

    Scale: the window is PARTITIONED by ``source`` — each shard
    packs independently after one hash shuffle on the shard key; no
    global ordering exists anywhere in the plan. At 100 TB you pack
    per input shard/file exactly like this (pack boundaries crossing
    shard boundaries are not wanted: shards are the unit of
    shuffling at training time).
    """
    d = table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens()).alias("n_tok")
    )
    return pack_docs(d).groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


def pack_docs(d: DataFrame, ctx: int = PACK_CTX) -> DataFrame:
    """Assign each (source, doc_id, n_tok) row to a pack: documents
    are laid end-to-end per source shard in doc_id order and a doc
    belongs to the pack where its FIRST token lands — a document is
    never split across packs. Separated from the query for direct
    property-testing against a sequential reference."""
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = F.sum("n_tok").over(w)
    return d.select(
        "source",
        "doc_id",
        "n_tok",
        F.floor((cum - F.col("n_tok")) / ctx).alias("pack_id"),
    )


def q_text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping RAG chunks: token windows of ``CHUNK_W`` with
    stride ``CHUNK_S`` per document. Pure projection + explode —
    embarrassingly parallel, zero shuffle; chunk text returned as
    md5 so the output stays skinny."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("t")
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(CHUNK_S)
    )
    d = d.select("doc_id", "t", F.explode(starts).alias("start"))
    chunk = F.slice("t", F.col("start"), F.lit(CHUNK_W))
    return d.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_S).cast("bigint").alias("chunk_ix"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.coalesce(F.array_join(chunk, " "), F.lit(""))).alias(
            "chunk_md5"
        ),
    )


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the fixed query ``BM25_TERMS``.

    One pass over documents computes dl and per-term tf JVM-side via
    the ``filter`` higher-order function (conditional per-row scan
    of the token array — no explode, so no |doc|×|vocab| blow-up and
    no shuffle on the word key). Corpus stats (N, avgdl, df per
    term) aggregate that same pass down to ONE row, broadcast back
    with a crossJoin. Per-term idf×tf components are summed in
    fixed left-to-right term order (float-sum order is part of the
    cross-engine contract), rounded at 6.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("t")
    )
    per_doc = d.select(
        "doc_id",
        F.size("t").alias("dl"),
        *[
            F.size(F.filter("t", _eq_term(term))).alias(f"tf_{i}")
            for i, term in enumerate(BM25_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))

    def term_score(i: int):
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
        )
        tf = F.col(f"tf_{i}")
        denom = tf + BM25_K1 * (
            1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
        )
        return idf * tf * (BM25_K1 + 1.0) / denom

    score = term_score(0)
    for i in range(1, len(BM25_TERMS)):
        score = score + term_score(i)
    return (
        scored.select("doc_id", F.round(score, 6).alias("bm25"))
        .where(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule family (Rae et al. 2021, §A1.1),
    re-expressed over the fixture schema with INTEGER-exact flags
    (mean-word-length bounds become ``3n ≤ Σlen ≤ 10n`` — no float
    division anywhere, so the hash compare is arithmetic-free):

    - r_words:   10 ≤ word count ≤ 1000
    - r_wordlen: mean word length in [3, 10]
    - r_symbol:  non-alphanumeric, non-space chars ≤ 10% of chars
    - r_stop:    ≥ 2 occurrences of common English stopwords

    Per-row flags aggregate to one row per source: map-side partial
    counts, one tiny shuffle."""
    d = table(spark, sf_dir, "documents")
    toks = tokens()
    n_words = F.size(toks)
    sum_len = F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", ""))
    n_chars = F.length("text")
    n_sym = n_chars - F.length(
        F.regexp_replace(F.col("text"), r"[^A-Za-z0-9 ]", "")
    )
    n_stop = F.size(
        F.filter(
            toks,
            lambda x: x.isin("the", "a", "of", "and", "is", "in", "to"),
        )
    )
    flags = d.select(
        "source",
        ((n_words >= 10) & (n_words <= 1000)).cast("bigint").alias("r_words"),
        ((sum_len >= 3 * n_words) & (sum_len <= 10 * n_words))
        .cast("bigint")
        .alias("r_wordlen"),
        (10 * n_sym <= n_chars).cast("bigint").alias("r_symbol"),
        (n_stop >= 2).cast("bigint").alias("r_stop"),
    )
    pass_all = (
        (F.col("r_words") == 1)
        & (F.col("r_wordlen") == 1)
        & (F.col("r_symbol") == 1)
        & (F.col("r_stop") == 1)
    ).cast("bigint")
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("r_words").alias("n_words_ok"),
        F.sum("r_wordlen").alias("n_wordlen_ok"),
        F.sum("r_symbol").alias("n_symbol_ok"),
        F.sum("r_stop").alias("n_stop_ok"),
        F.sum(pass_all).alias("n_pass_all"),
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) build from the event
    log: per user, keep only rows where ``event_type`` CHANGED from
    the previous event (change-point compaction), then derive
    validity intervals ``[valid_from, valid_to)`` with lead; the
    open interval marks the current state.

    Scale: both windows are partitioned by ``user_id`` — one hash
    shuffle on the entity key, per-user local sorts; never a global
    sort and never an events×events join. Timestamps emitted as
    epoch microseconds (sub-second parquet timestamps diverge under
    float-seconds comparison)."""
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_type")
    changed = e.withColumn(
        "prev_type", F.lag("event_type").over(w)
    ).where(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_type")
    return changed.select(
        "user_id",
        "event_type",
        F.row_number().over(w2).alias("version"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w2)).alias("valid_to_us"),
        F.lead("ts").over(w2).isNull().cast("bigint").alias("is_current"),
    )


def q_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew report: the 10 heaviest ``l_suppkey`` keys in
    lineitem with their frequency ratio vs the mean key frequency —
    the number that decides broadcast/salt/AQE-skew-join strategy.
    Two cheap aggregations (key counts, then a 1-row mean broadcast
    back); top-10 compiles to TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    mean = counts.agg(F.avg("n").alias("mean_n"))
    return (
        counts.crossJoin(F.broadcast(mean))
        .select(
            "l_suppkey",
            "n",
            F.round(F.col("n") / F.col("mean_n"), 4).alias("skew_ratio"),
        )
        .orderBy(F.desc("n"), "l_suppkey")
        .limit(10)
    )


def q_text_squeeze_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length token squeeze: collapse consecutive repeated
    tokens per document (the cheap stutter/boilerplate repair that
    precedes repetition-ratio filtering). Pure per-row projection —
    an indexed ``filter`` HOF keeps a token iff it differs from its
    predecessor (out-of-bounds ``get`` → NULL → keep, identically
    on both engines: Spark ``get`` is 0-based/NULL-safe, DuckDB
    ``l[0]`` is NULL). Zero shuffle."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("t")
    )
    squeezed = F.filter(
        "t",
        lambda x, i: F.coalesce(x != F.get("t", i - 1), F.lit(True)),
    )
    return d.select(
        "doc_id",
        F.size("t").alias("n_before"),
        F.size(squeezed).alias("n_after"),
        F.md5(F.coalesce(F.array_join(squeezed, " "), F.lit(""))).alias(
            "squeezed_md5"
        ),
    )


#: context window for the best-fit packer (same as PACK_CTX).
def q_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing per shard (rows-only: FFD is
    an inherently sequential greedy loop — no SQL twin; the pytest
    suite verifies against an independent Python reimplementation
    and the capacity invariant).

    Contrast with ``q_pack_sequences``: concat-and-chunk splits
    documents across pack boundaries; FFD keeps every document
    whole and minimizes padding waste instead. The greedy loop runs
    INSIDE each shard via Arrow-batched ``applyInPandas`` — shards
    pack in parallel, the sequential part is per-shard only (the
    same parallelism structure a 100 TB packer uses: the driver
    never sees a document)."""
    import pandas as pd

    from ..session import ship_package_to_executors

    ship_package_to_executors(spark)
    d = table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens()).alias("n_tok")
    )
    ctx = PACK_CTX  # bind locally: the closure must not need the package

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tok", "doc_id"], ascending=[False, True]
        )
        bins: list[list[int]] = []  # [remaining, n_docs, n_tokens]
        for tok in pdf["n_tok"]:
            t = int(tok)
            for b in bins:
                if b[0] >= t:
                    b[0] -= t
                    b[1] += 1
                    b[2] += t
                    break
            else:
                bins.append([ctx - t, 1, t])
        return pd.DataFrame(
            {
                "source": pdf["source"].iloc[0],
                "pack_id": range(len(bins)),
                "n_docs": [b[1] for b in bins],
                "n_tokens": [b[2] for b in bins],
            }
        )

    return d.groupBy("source").applyInPandas(
        ffd, "source string, pack_id long, n_docs long, n_tokens long"
    )


QUERIES = {
    "q_pack_sequences": q_pack_sequences,
    "q_text_squeeze_runs": q_text_squeeze_runs,
    "q_pack_bestfit": q_pack_bestfit,
    "q_text_chunk_overlap": q_text_chunk_overlap,
    "q_text_bm25": q_text_bm25,
    "q_quality_gopher": q_quality_gopher,
    "q_scd2_history": q_scd2_history,
    "q_skew_diagnose": q_skew_diagnose,
}

_PER_DOC_BM25 = (
    "SELECT doc_id, len(" + SQL_TOKENS + ") AS dl, "
    + ", ".join(
        "len(list_filter(" + SQL_TOKENS + ", x -> x = '%s')) AS tf_%d"
        % (term, i)
        for i, term in enumerate(BM25_TERMS)
    )
    + " FROM documents"
)

_BM25_SCORE = " + ".join(
    "ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) * tf_{i} * "
    "({k1} + 1.0) / (tf_{i} + {k1} * (1.0 - {b} + {b} * dl / avgdl))".format(
        i=i, k1=BM25_K1, b=BM25_B
    )
    for i in range(len(BM25_TERMS))
)

ORACLE = {
    "q_text_squeeze_runs": (
        "WITH t AS (SELECT doc_id, " + SQL_TOKENS + " AS l "
        "FROM documents), "
        # DuckDB lambda index is 1-based; l[0] is NULL -> coalesce
        # keeps the first token, mirroring Spark's 0-based get()
        "s AS (SELECT doc_id, l, list_filter(l, "
        "(x, i) -> coalesce(x <> l[i - 1], true)) AS sq FROM t) "
        "SELECT doc_id, len(l) AS n_before, len(sq) AS n_after, "
        "md5(coalesce(array_to_string(sq, ' '), '')) AS squeezed_md5 "
        "FROM s"
    ),
    "q_pack_sequences": (
        "WITH toks AS (SELECT source, doc_id, "
        "len(" + SQL_TOKENS + ") AS n_tok FROM documents), "
        "packed AS (SELECT source, n_tok, "
        "floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id "
        "ROWS UNBOUNDED PRECEDING) - n_tok) / %d)::BIGINT AS pack_id "
        "FROM toks) "
        # sum(BIGINT) -> HUGEINT -> pandas float64; cast for the
        # driver's dtype-sensitive hash
        "SELECT source, pack_id, count(*) AS n_docs, "
        "sum(n_tok)::BIGINT AS n_tokens FROM packed GROUP BY source, pack_id"
        % PACK_CTX
    ),
    "q_text_chunk_overlap": (
        "WITH toks AS (SELECT doc_id, " + SQL_TOKENS + " AS t "
        "FROM documents), "
        "chunks AS (SELECT doc_id, t, unnest(generate_series(1, "
        "greatest(len(t), 1), %(s)d)) AS start FROM toks) "
        "SELECT doc_id, ((start - 1) / %(s)d)::BIGINT AS chunk_ix, "
        "len(t[start : start + %(wm1)d]) AS n_chunk_tokens, "
        "md5(coalesce(array_to_string(t[start : start + %(wm1)d], ' '), "
        "'')) AS chunk_md5 FROM chunks"
        % {"s": CHUNK_S, "wm1": CHUNK_W - 1}
    ),
    "q_text_bm25": (
        "WITH per_doc AS (" + _PER_DOC_BM25 + "), "
        "stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, "
        + ", ".join(
            "sum((tf_%d > 0)::BIGINT) AS df_%d" % (i, i)
            for i in range(len(BM25_TERMS))
        )
        + " FROM per_doc) "
        "SELECT doc_id, round(" + _BM25_SCORE + ", 6) AS bm25 "
        "FROM per_doc CROSS JOIN stats "
        "WHERE round(" + _BM25_SCORE + ", 6) > 0 "
        "ORDER BY bm25 DESC, doc_id LIMIT 20"
    ),
    "q_quality_gopher": (
        "WITH flags AS (SELECT source, "
        "(len(" + SQL_TOKENS + ") BETWEEN 10 AND 1000)::BIGINT "
        "AS r_words, "
        "(length(regexp_replace(trim(text), '\\s+', '', 'g')) "
        "BETWEEN 3 * len(" + SQL_TOKENS + ") "
        "AND 10 * len(" + SQL_TOKENS + "))::BIGINT AS r_wordlen, "
        "(10 * (length(text) - length(regexp_replace(text, "
        "'[^A-Za-z0-9 ]', '', 'g'))) <= length(text))::BIGINT AS r_symbol, "
        "(len(list_filter(" + SQL_TOKENS + ", x -> x IN "
        "('the', 'a', 'of', 'and', 'is', 'in', 'to'))) >= 2)::BIGINT "
        "AS r_stop FROM documents) "
        # sum(BIGINT) -> HUGEINT -> pandas float64; cast each for the
        # driver's dtype-sensitive hash
        "SELECT source, count(*) AS n_docs, "
        "sum(r_words)::BIGINT AS n_words_ok, "
        "sum(r_wordlen)::BIGINT AS n_wordlen_ok, "
        "sum(r_symbol)::BIGINT AS n_symbol_ok, "
        "sum(r_stop)::BIGINT AS n_stop_ok, "
        "sum((r_words = 1 AND r_wordlen = 1 AND r_symbol = 1 "
        "AND r_stop = 1)::BIGINT)::BIGINT AS n_pass_all "
        "FROM flags GROUP BY source"
    ),
    "q_scd2_history": (
        "WITH marked AS (SELECT user_id, ts, event_type, "
        "lag(event_type) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_type) AS prev_type FROM events), "
        "changed AS (SELECT user_id, ts, event_type FROM marked "
        "WHERE prev_type IS NULL OR prev_type <> event_type) "
        "SELECT user_id, event_type, "
        "row_number() OVER w AS version, "
        "epoch_us(ts)::BIGINT AS valid_from_us, "
        "epoch_us(lead(ts) OVER w)::BIGINT AS valid_to_us, "
        "(lead(ts) OVER w IS NULL)::BIGINT AS is_current "
        "FROM changed WINDOW w AS (PARTITION BY user_id "
        "ORDER BY ts, event_type)"
    ),
    "q_skew_diagnose": (
        "WITH counts AS (SELECT l_suppkey, count(*) AS n "
        "FROM lineitem GROUP BY l_suppkey), "
        "mean AS (SELECT avg(n) AS mean_n FROM counts) "
        "SELECT l_suppkey, n, round(n / mean_n, 4) AS skew_ratio "
        "FROM counts CROSS JOIN mean "
        "ORDER BY n DESC, l_suppkey LIMIT 10"
    ),
}


def q_quality_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic rule family (Raffel et al. 2020, §2.2 —
    the cleaning rules behind the C4 corpus), re-expressed at
    document granularity over the fixture and aggregated per source
    exactly like ``q_quality_gopher`` (the two rule families a real
    curation job runs back-to-back):

    - r_brace:  no '{' or '}' (code/templating leak)
    - r_lorem:  no 'lorem ipsum' (placeholder boilerplate)
    - r_js:     no 'javascript' (noscript warnings)
    - r_policy: no 'privacy policy' / 'cookie policy' / 'terms of
      use' (legal boilerplate pages)
    - r_words:  ≥ 5 whitespace words
    - r_punct:  trimmed text ends in terminal punctuation
      (. ! ? or closing quote — C4's sentence-filter applied at the
      doc grain this fixture has)

    All flags are pure string predicates (contains / regexp on the
    lowercased text) — integer-exact, no float anywhere; counts
    collapse map-side to one row per source."""
    d = table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    toks = tokens()
    r_brace = (~low.contains("{") & ~low.contains("}")).cast("bigint")
    r_lorem = (~low.contains("lorem ipsum")).cast("bigint")
    r_js = (~low.contains("javascript")).cast("bigint")
    r_policy = (
        ~low.contains("privacy policy")
        & ~low.contains("cookie policy")
        & ~low.contains("terms of use")
    ).cast("bigint")
    r_words = (F.size(toks) >= 5).cast("bigint")
    r_punct = F.trim(F.col("text")).rlike(r"[.!?\"']$").cast("bigint")
    flags = d.select(
        "source",
        r_brace.alias("r_brace"),
        r_lorem.alias("r_lorem"),
        r_js.alias("r_js"),
        r_policy.alias("r_policy"),
        r_words.alias("r_words"),
        r_punct.alias("r_punct"),
    )
    pass_all = (
        (F.col("r_brace") == 1)
        & (F.col("r_lorem") == 1)
        & (F.col("r_js") == 1)
        & (F.col("r_policy") == 1)
        & (F.col("r_words") == 1)
        & (F.col("r_punct") == 1)
    ).cast("bigint")
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("r_brace").alias("n_brace_ok"),
        F.sum("r_lorem").alias("n_lorem_ok"),
        F.sum("r_js").alias("n_js_ok"),
        F.sum("r_policy").alias("n_policy_ok"),
        F.sum("r_words").alias("n_words_ok"),
        F.sum("r_punct").alias("n_punct_ok"),
        F.sum(pass_all).alias("n_pass_all"),
    )


QUERIES["q_quality_c4_rules"] = q_quality_c4_rules
ORACLE["q_quality_c4_rules"] = (
    "WITH flags AS (SELECT source, "
    "(NOT contains(lower(text), '{') AND NOT contains(lower(text), '}'))"
    "::BIGINT AS r_brace, "
    "(NOT contains(lower(text), 'lorem ipsum'))::BIGINT AS r_lorem, "
    "(NOT contains(lower(text), 'javascript'))::BIGINT AS r_js, "
    "(NOT contains(lower(text), 'privacy policy') "
    " AND NOT contains(lower(text), 'cookie policy') "
    " AND NOT contains(lower(text), 'terms of use'))::BIGINT AS r_policy, "
    "(len(" + SQL_TOKENS + ") >= 5)::BIGINT AS r_words, "
    "regexp_matches(trim(text), '[.!?\"'']$')::BIGINT AS r_punct "
    "FROM documents) "
    "SELECT source, count(*)::BIGINT AS n_docs, "
    "sum(r_brace)::BIGINT AS n_brace_ok, "
    "sum(r_lorem)::BIGINT AS n_lorem_ok, "
    "sum(r_js)::BIGINT AS n_js_ok, "
    "sum(r_policy)::BIGINT AS n_policy_ok, "
    "sum(r_words)::BIGINT AS n_words_ok, "
    "sum(r_punct)::BIGINT AS n_punct_ok, "
    "sum(r_brace * r_lorem * r_js * r_policy * r_words * r_punct)::BIGINT "
    "AS n_pass_all "
    "FROM flags GROUP BY source"
)


#: Gopher repetition bars (Rae et al. 2021, table A1): max char
#: fraction in duplicated / top n-grams, keyed by n.
_REP_DUP_BAR = {2: 0.20, 3: 0.18}
_REP_TOP_BAR = {2: 0.20, 3: 0.18}


def q_quality_rep_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-n-gram repetition filters (Rae et al. 2021
    "Gopher" table A1; also RefinedWeb/FineWeb's repetition family)
    — the quality lens ``q_text_repetition``'s single top-token
    share can't see: per document and n ∈ {2, 3}, the char fraction
    in DUPLICATED n-grams (occurring ≥ 2×) and in the single TOP
    n-gram, each normalized by the doc's total n-gram chars, with
    pass flags at the published bars (dup ≤ 0.20/0.18, top ≤
    0.20/0.18 for n = 2/3). Long form: one row per (doc, n); docs
    with fewer than n tokens have no n-gram row (nothing to judge).

    Integer-exact to one final round-6 division: char masses are
    BIGINT Σ count·len sums. Plan: the n-gram construction is
    zip_with over shifted slices (whole-stage codegen — the audited
    shingle idiom, never element_at lambdas), then two hash aggs
    ((doc, n, gram) counts → (doc, n) masses); hot grams collapse
    map-side."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    toks = F.col("toks")
    sz = F.size(toks)
    g2 = F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(sz - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    g3 = F.zip_with(
        g2,
        F.slice(toks, 3, F.greatest(sz - 2, F.lit(0))),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    # bind g2/g3 as real columns so the null-pad filter can reference
    # them by name
    d = d.withColumn("g2", g2).withColumn("g3", g3)
    grams = None
    for n, cname in ((2, "g2"), (3, "g3")):
        part = d.select(
            "doc_id",
            F.lit(n).alias("n"),
            F.explode(
                F.expr(f"filter({cname}, x -> x IS NOT NULL)")
            ).alias("gram"),
        )
        grams = part if grams is None else grams.unionByName(part)
    counts = grams.groupBy("doc_id", "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    mass = F.col("c") * F.length("gram")
    per = counts.groupBy("doc_id", "n").agg(
        F.sum(mass).alias("total"),
        F.sum(F.when(F.col("c") >= 2, mass).otherwise(0)).alias("dup"),
        F.max(mass).alias("top"),
    )
    dup_bar = F.when(F.col("n") == 2, _REP_DUP_BAR[2]).otherwise(
        _REP_DUP_BAR[3]
    )
    top_bar = F.when(F.col("n") == 2, _REP_TOP_BAR[2]).otherwise(
        _REP_TOP_BAR[3]
    )
    dup_frac = F.round(F.col("dup") / F.col("total"), 6)
    top_frac = F.round(F.col("top") / F.col("total"), 6)
    return per.select(
        "doc_id",
        "n",
        dup_frac.alias("dup_frac"),
        top_frac.alias("top_frac"),
        F.when(dup_frac <= dup_bar, 1).otherwise(0).alias("pass_dup"),
        F.when(top_frac <= top_bar, 1).otherwise(0).alias("pass_top"),
    )


QUERIES["q_quality_rep_ngrams"] = q_quality_rep_ngrams


def _rep_ngrams_sql() -> str:
    g2 = (
        "list_transform(range(1, greatest(len(toks) - 1, 0) + 1), "
        "i -> toks[i] || ' ' || toks[i+1])"
    )
    g3 = (
        "list_transform(range(1, greatest(len(toks) - 2, 0) + 1), "
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
    )
    return (
        "WITH t AS (SELECT doc_id, " + SQL_TOKENS + " AS toks FROM documents), "
        f"grams AS (SELECT doc_id, 2 AS n, unnest({g2}) AS gram FROM t "
        f"UNION ALL SELECT doc_id, 3, unnest({g3}) FROM t), "
        "c AS (SELECT doc_id, n, gram, count(*)::BIGINT AS c "
        "  FROM grams GROUP BY 1, 2, 3), "
        "per AS (SELECT doc_id, n, sum(c * length(gram))::BIGINT AS total, "
        "  sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END)::BIGINT AS dup, "
        "  max(c * length(gram))::BIGINT AS top FROM c GROUP BY 1, 2) "
        "SELECT doc_id, n, "
        "round(dup * 1.0 / total, 6) AS dup_frac, "
        "round(top * 1.0 / total, 6) AS top_frac, "
        "CASE WHEN round(dup * 1.0 / total, 6) <= "
        f"  (CASE WHEN n = 2 THEN {_REP_DUP_BAR[2]} ELSE {_REP_DUP_BAR[3]} END) "
        "  THEN 1 ELSE 0 END AS pass_dup, "
        "CASE WHEN round(top * 1.0 / total, 6) <= "
        f"  (CASE WHEN n = 2 THEN {_REP_TOP_BAR[2]} ELSE {_REP_TOP_BAR[3]} END) "
        "  THEN 1 ELSE 0 END AS pass_top "
        "FROM per"
    )


ORACLE["q_quality_rep_ngrams"] = _rep_ngrams_sql()


_SHUFFLE_EPOCHS = 3
_SHUFFLE_SHARDS = 8


def q_pack_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shuffle manifest — the data-ORDER half of
    training reproducibility (the sibling of q_pack_sequences'
    content packing): for each training epoch, every document gets a
    shard and an in-shard position from the md5 of (epoch, doc_id),
    so the 'random' order is a pure function of the data — same
    order on every run, any cluster layout, resumable mid-epoch from
    (epoch, shard, pos) with no RNG state to checkpoint, and each
    epoch a fresh independent permutation.

    Scale: the shuffle key is a per-row projection; ranking windows
    partition per (epoch, shard) — ``_SHUFFLE_SHARDS`` independent
    writers per epoch, the q_win_ntile_sharded posture, never a
    global sort."""
    d = table(spark, sf_dir, "documents")
    epochs = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.lit(_SHUFFLE_EPOCHS))
        ).alias("epoch"),
    )
    key = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    keyed = epochs.select(
        "epoch",
        "doc_id",
        key.alias("k"),
        (key % _SHUFFLE_SHARDS).alias("shard"),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    return keyed.select(
        "epoch",
        "shard",
        "doc_id",
        F.row_number().over(w).alias("pos"),
    )


QUERIES["q_pack_epoch_shuffle"] = q_pack_epoch_shuffle

ORACLE["q_pack_epoch_shuffle"] = (
    "WITH ep AS (SELECT doc_id, unnest(range(1, "
    f"{_SHUFFLE_EPOCHS} + 1)) AS epoch FROM documents), "
    "keyed AS (SELECT epoch, doc_id, "
    "  (('0x' || substr(md5(epoch::VARCHAR || ':' || doc_id::VARCHAR), 1, 8))"
    "::UBIGINT)::BIGINT AS k FROM ep) "
    "SELECT epoch, "
    f"(k % {_SHUFFLE_SHARDS})::BIGINT AS shard, doc_id, "
    "row_number() OVER (PARTITION BY epoch, "
    f"(k % {_SHUFFLE_SHARDS}) ORDER BY k, doc_id)::BIGINT AS pos "
    "FROM keyed"
)


#: padding-bucket ladder: power-of-two caps a batcher pads to.
_LB_CAPS = (16, 32, 64, 128, 256, 512, 1024, 2048)


def q_pack_length_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit — the padding-efficiency stat
    every fixed-shape training batcher reports: documents bucket to
    the smallest power-of-two token cap that fits (the ladder a
    bucketing data loader pads to), and each (lang, bucket) cell
    reports document count, real token mass, padded token mass
    (cap × count) and the WASTE fraction in basis points — the
    number that tells you whether to add a bucket boundary.

    All integers: the cap ladder is an explicit CASE over BIGINT
    token counts (no log2 floats to disagree across engines), waste
    is exact (cap·n − Σtok), and the basis-point ratio is the one
    final integer division (half-away rounding in pure BIGINT, the
    r15 nb_score convention). One hash agg on the (lang, cap) key;
    docs past the top cap land in cap = -1 ("doesn't fit, truncate
    or split" — reported, not hidden)."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")
    cap = F.when(n_tok <= _LB_CAPS[0], F.lit(_LB_CAPS[0]))
    for c in _LB_CAPS[1:]:
        cap = cap.when(n_tok <= c, F.lit(c))
    cap = cap.otherwise(F.lit(-1)).cast("bigint")
    cells = (
        d.select("lang", cap.alias("cap"), n_tok.alias("n_tok"))
        .groupBy("lang", "cap")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tok_sum"),
        )
    )
    padded = F.when(F.col("cap") > 0, F.col("cap") * F.col("n_docs")).otherwise(
        F.col("tok_sum")
    )
    waste = padded - F.col("tok_sum")
    waste_bp = F.expr(
        "CASE WHEN cap > 0 THEN "
        "(2 * 10000 * (cap * n_docs - tok_sum) + cap * n_docs) "
        "DIV (2 * cap * n_docs) ELSE 0 END"
    )
    return cells.select(
        "lang",
        "cap",
        "n_docs",
        "tok_sum",
        padded.alias("padded_sum"),
        waste.alias("waste_tokens"),
        waste_bp.alias("waste_bp"),
    )


QUERIES["q_pack_length_bucket"] = q_pack_length_bucket


def _length_bucket_sql() -> str:
    ladder = f"CASE WHEN n_tok <= {_LB_CAPS[0]} THEN {_LB_CAPS[0]} " + " ".join(
        f"WHEN n_tok <= {c} THEN {c}" for c in _LB_CAPS[1:]
    ) + " ELSE -1 END"
    return (
        "WITH t AS (SELECT lang, len(" + SQL_TOKENS + ")::BIGINT AS n_tok "
        "FROM documents), "
        f"b AS (SELECT lang, ({ladder})::BIGINT AS cap, n_tok FROM t), "
        "cells AS (SELECT lang, cap, count(*)::BIGINT AS n_docs, "
        "sum(n_tok)::BIGINT AS tok_sum FROM b GROUP BY lang, cap) "
        "SELECT lang, cap, n_docs, tok_sum, "
        "(CASE WHEN cap > 0 THEN cap * n_docs ELSE tok_sum END)::BIGINT "
        "AS padded_sum, "
        "(CASE WHEN cap > 0 THEN cap * n_docs - tok_sum ELSE 0 END)::BIGINT "
        "AS waste_tokens, "
        "(CASE WHEN cap > 0 THEN "
        "(2 * 10000 * (cap * n_docs - tok_sum) + cap * n_docs) "
        "// (2 * cap * n_docs) ELSE 0 END)::BIGINT AS waste_bp "
        "FROM cells"
    )


ORACLE["q_pack_length_bucket"] = _length_bucket_sql()
