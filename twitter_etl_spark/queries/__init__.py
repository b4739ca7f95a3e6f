"""Checkable operator inventory (SURVEY.md §2).

Each submodule defines two dicts:

- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]`` —
  the Spark implementation of each operator, DataFrame-API first.
- ``ORACLE: dict[str, str]`` — the equivalent ANSI SQL for the
  DuckDB oracle (same column aliases; floats rounded on both sides;
  total orders under every LIMIT; SURVEY.md §5.3). Operators whose
  semantics DuckDB can't reproduce exactly (approximate, ML,
  streaming-only) appear in ``QUERIES`` but not ``ORACLE`` and get
  the driver's weaker rows-only check.

This package merges them; name collisions are a bug.
"""

from __future__ import annotations

from . import (
    aggregates,
    anomaly,
    ansi_safety,
    behavior,
    corpus,
    decontam,
    dedup,
    dq,
    graph,
    extras,
    formats,
    geo,
    incremental,
    integrity,
    joins,
    layout,
    llmprep,
    multimodal_q,
    pandas_udfs,
    ref_parity,
    retrieval,
    sampling,
    scalar_fns,
    similarity,
    sketches,
    sortset,
    streaming_batch,
    text,
    timeseries,
    tpch,
    udtf_ops,
    webcorpus,
    windows,
)

# Module import order (alphabetical-ish; actual registry order is
# decided by _CERT_PREFIX below, not module position).
_MODULES = (
    ref_parity,
    scalar_fns,
    streaming_batch,
    text,
    dedup,
    similarity,
    multimodal_q,
    sampling,
    joins,
    aggregates,
    windows,
    sortset,
    behavior,
    decontam,
    corpus,
    incremental,
    sketches,
    extras,
    layout,
    pandas_udfs,
    tpch,
    llmprep,
    timeseries,
    graph,
    dq,
    integrity,
    geo,
    retrieval,
    anomaly,
    formats,
    udtf_ops,
    ansi_safety,
    webcorpus,
)

# Registration order is a contract: the driver's correctness gate
# certifies exactly the FIRST 50 registry entries each round.
#
# ROTATION POLICY (the tuple is the source of truth; the arithmetic
# is pinned by tests/test_cli.py::test_cert_prefix_contract and
# test_cert_prefix_staleness_policy, so this comment states policy
# only — per-slot narratives drifted twice in r7/r8 and are gone):
#
#   1. Every query NEW in the current round MUST be in the prefix
#      (certs in its birth round; the contract test enforces
#      "certified in some past round OR queued").
#   2. Remaining slots go to the STALEST re-certs: names whose most
#      recent green driver row is oldest, oldest round first. New
#      ops displace the youngest fillers, never the stale cohort.
#   3. Rows-only names in the prefix must be allowlisted in
#      test_cert_prefix_all_oracle_backed::deliberate_rows_only.
#
# Provenance (regenerate the wording from tools/gen_cert_rotation.py
# output, don't hand-narrate — ADVICE r14): this r18 prefix
# front-loads the DELIBERATE RE-CERTS: the seven names whose
# connected-components stage moved to the single graph.components
# core (driver finish below its pair gate), and labelprop and PPR,
# whose rounds now also finish on the driver below the same gate —
# their last driver certs describe per-round Spark loops that no
# longer run at fixture scale (the deliberate_recerts set in
# tests/test_cli.py mirrors this list). Remaining 41 slots:
# `python tools/gen_cert_rotation.py 9`, the stalest re-certs oldest
# green driver round first (r11 tail, then the r12 cohort head); the
# tool skips the rows-only q_agg_approx_percentile (policy rule 3).
_CERT_PREFIX = (
    # -- r18 deliberate re-certs: components() consumers
    "q_er_cluster",  # r17 cert
    "q_geo_dbscan",  # r17 cert
    "q_dedup_cluster",  # r16 cert
    "q_graph_cc_star",  # r17 cert
    "q_sim_knn_clusters",  # r17 cert
    "q_multimodal_dedup_cluster",  # r17 cert
    "q_llm_curation_neardup",  # r16 cert
    # -- r18 deliberate re-certs: driver-finished graph rounds
    "q_graph_labelprop",  # r17 cert
    "q_graph_ppr",  # r17 cert
    # -- r18 rotation fillers: stalest re-certs oldest-first
    "q_session_window_batch",  # r11
    "q_sim_ann_ivfpq",  # r11
    "q_subquery_correlated",  # r11
    "q_text_bm25",  # r11
    "q_text_chunk_overlap",  # r11
    "q_text_contamination",  # r11
    "q_text_corpus_stopwords",  # r11
    "q_text_domain_stats",  # r11
    "q_text_heavyhitters",  # r11
    "q_text_pii_scrub",  # r11
    "q_text_squeeze_runs",  # r11
    "q_text_tfidf",  # r11
    "q_text_unigram_logprob",  # r11
    "q_text_zipf",  # r11
    "q_tpch_q1",  # r11
    "q_tpch_q10",  # r11
    "q_tpch_q11",  # r11
    "q_tpch_q12",  # r11
    "q_tpch_q13",  # r11
    "q_tpch_q14",  # r11
    "q_tpch_q16",  # r11
    "q_tpch_q17",  # r11
    "q_tpch_q18",  # r11
    "q_tpch_q19",  # r11
    "q_tpch_q2",  # r11
    "q_tpch_q20",  # r11
    "q_tpch_q21",  # r11
    "q_tpch_q22",  # r11
    "q_ts_gapfill",  # r11
    "q_ts_locf",  # r11
    "q_ts_resample_ohlc",  # r11
    "q_agg_collect",  # r12
    "q_agg_cube",  # r12
    "q_agg_distinct",  # r12
    "q_agg_global",  # r12
    "q_agg_groupby",  # r12
    "q_agg_having",  # r12
    "q_agg_multi_distinct",  # r12
    "q_agg_rollup",  # r12
    "q_agg_stats",  # r12
    "q_clean_pipeline",  # r12
)

_BY_MODULE: dict = {}
ALL_ORACLES: dict = {}

for _m in _MODULES:
    for _name, _fn in _m.QUERIES.items():
        if _name in _BY_MODULE:
            raise RuntimeError(f"duplicate query name {_name!r} in {_m.__name__}")
        _BY_MODULE[_name] = _fn
    for _name, _sql in getattr(_m, "ORACLE", {}).items():
        if _name not in _m.QUERIES:
            raise RuntimeError(f"oracle {_name!r} in {_m.__name__} has no query")
        ALL_ORACLES[_name] = _sql

for _name in _CERT_PREFIX:
    if _name not in _BY_MODULE:
        raise RuntimeError(f"certification prefix names unknown query {_name!r}")

ALL_QUERIES: dict = {_n: _BY_MODULE[_n] for _n in _CERT_PREFIX}
for _name, _fn in _BY_MODULE.items():
    ALL_QUERIES.setdefault(_name, _fn)
