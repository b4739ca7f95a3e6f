"""Output checks, run outside the timed window.

The references are DuckDB evaluations over the same inputs, written
from the package's documented semantics: ``cleaning.sql_clean_chain``
for the cleaning chain, keep-first on the minimum ``tweet_id``, and the
``ALL_ORACLES`` SQL for the queries. Comparisons are multisets, so a
row written twice is a mismatch.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import math
import os
from collections import Counter

import duckdb

_NDJSON_COLUMNS = (
    "{'doc_id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR', "
    "'source': 'VARCHAR', 'n_chars': 'BIGINT'}"
)


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    os.makedirs(tmp_dir, exist_ok=True)
    return duckdb.connect(config={"threads": 2, "temp_directory": tmp_dir})


def _parquet_rows(con, pattern: str, cols: str) -> list[tuple]:
    if not glob.glob(pattern, recursive=True):
        return []
    return con.execute(f"SELECT {cols} FROM read_parquet('{pattern}')").fetchall()


def keep_first_mismatches(con, landing_dir: str, sink_dir: str, per_file: bool) -> Counter:
    """Rows of the sink that differ from keep-first over the landing
    files (per file, or across all files), as a multiset of
    ``(tweet_id, lang, content, source)``: expected-but-missing and
    written-but-unexpected rows both appear."""
    from twitter_etl_spark.cleaning import sql_clean_chain

    part = "filename, content" if per_file else "content"
    expected = con.execute(
        f"""
        WITH c AS (
          SELECT filename, doc_id AS tweet_id, lang,
                 {sql_clean_chain('text')} AS content, source
          FROM read_json('{landing_dir}/*.json', format='newline_delimited',
                         columns={_NDJSON_COLUMNS}, filename=true)
          WHERE lang = 'es')
        SELECT tweet_id, lang, content, source FROM c
        QUALIFY row_number() OVER (PARTITION BY {part} ORDER BY tweet_id) = 1
        """
    ).fetchall()
    actual = _parquet_rows(con, f"{sink_dir}/*.parquet", "tweet_id, lang, content, source")
    exp, act = Counter(expected), Counter(actual)
    return (exp - act) + (act - exp)


def rollup_mismatches(con, landing_dir: str, rollup_dir: str) -> int:
    """Number of ``lang`` rows where the latest published rollup
    differs from count/sum/min/max of ``n_chars`` over all documents."""
    expected = con.execute(
        f"""
        SELECT lang, count(*), sum(n_chars), min(n_chars), max(n_chars)
        FROM read_json('{landing_dir}/*.json', format='newline_delimited',
                       columns={_NDJSON_COLUMNS})
        GROUP BY lang
        """
    ).fetchall()
    try:
        with open(os.path.join(rollup_dir, "_LATEST")) as f:
            latest = int(f.read())
    except (OSError, ValueError):
        return len(expected)
    actual = _parquet_rows(con, f"{rollup_dir}/v={latest}/*.parquet", "lang, n, s, mn, mx")
    exp, act = Counter(expected), Counter(actual)
    return sum(((exp - act) + (act - exp)).values())


def fixture_views(con, fixture_dir: str) -> None:
    for t in ("lineitem", "customer", "embeddings"):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')"
        )


def _canon(v):
    """Type-tagged canonical cell: NULL and NaN conflate, floats are
    compared to six decimals, ``int 3`` differs from ``float 3.0``."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else ("f", round(float(v), 6))
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return ("t", v.isoformat())
    return ("s", str(v))


def frame_digest(pdf) -> str:
    """Order-insensitive sha256 of a pandas result: lower-cased sorted
    column names plus the sorted canonical rows."""
    cols = sorted(pdf.columns, key=str.lower)
    rows = sorted(
        repr(tuple(_canon(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr([c.lower() for c in cols]).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()
