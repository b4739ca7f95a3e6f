"""Benchmark decontamination [EXT].

Before training, every serious pipeline checks the corpus for
n-gram overlap against held-out evaluation sets: a document sharing
long n-grams with a benchmark leaks the benchmark into training.
The scalable shape is exactly this module's: the eval set is tiny
(benchmarks are KBs-to-MBs), so its shingle set is **broadcast**,
and the 100 TB corpus is scanned once — explode shingles, hash-join
against the broadcast set, count hits per document. No shuffle of
the corpus, no pairwise comparison.

Fixture stand-in: ``doc_id < 5`` plays the benchmark; the corpus is
everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cleaning import tokens
from ..tables import table
from .dedup import _shingles

_N = 5  # contamination n-gram width


def _sql_ngrams(n: int) -> str:
    """DuckDB n-gram list over ``toks`` (join of n shifted picks)."""
    concat = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len(toks) - {n - 1}, 0) + 1), i -> {concat}))"
    )


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus documents sharing at least one 5-gram with the eval
    set (doc_id < 5), with the distinct overlapping-shingle count —
    the decontamination report a filter step would consume."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    sh = d.select(
        "doc_id", F.explode(_shingles("toks", n=_N)).alias("shingle")
    )
    eval_sh = (
        sh.filter(F.col("doc_id") < 5).select("shingle").distinct()
    )
    corpus = sh.filter(F.col("doc_id") >= 5)
    return (
        corpus.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


QUERIES = {
    "q_text_contamination": q_text_contamination,
}

ORACLE = {
    "q_text_contamination": (
        "WITH t AS (SELECT doc_id, "
        "  string_split_regex(trim(text), '\\s+') AS toks FROM documents), "
        f"sh AS (SELECT doc_id, unnest({_sql_ngrams(_N)}) AS shingle FROM t), "
        "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5) "
        "SELECT sh.doc_id, count(*)::BIGINT AS n_hits "
        "FROM sh JOIN ev USING (shingle) WHERE sh.doc_id >= 5 "
        "GROUP BY sh.doc_id"
    ),
}
