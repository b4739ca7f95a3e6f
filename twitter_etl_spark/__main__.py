"""CLI driver — the reference's entry-point surface (``main.R:125-215``).

Three entry paths, gate semantics preserved exactly:

- ``--initial-setup`` alone: DDL only (create the sink table,
  collision-safe; ``main.R:142-145, 17-42``).
- no flags: run the micro-batch ETL loop.
- ``--initial-setup --force-stream``: DDL then the loop.

The quirky gate is the reference's own: the stream runs when
``initial_setup == force_stream`` (``main.R:192``) — i.e. on a plain
invocation (both False) or on setup+force (both True).

The extract stage differs by necessity: the reference blocks on a
live Twitter HTTP stream per chunk (``main.R:60-66``); here each
chunk drains whatever has landed in the NDJSON landing directory
(the reference itself spools the socket to such files before
parsing). ``--keys`` plays the track-keyword role as an OR-of-terms
filter on the cleaned content, applied with the language filter
before each batch's keep-first.

Usage::

    python -m twitter_etl_spark --initial-setup --db-file /tmp/sink
    python -m twitter_etl_spark --raw-data-dir /tmp/landing \
        --db-file /tmp/sink --stream-chunks 3 --keys spark,merge
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    # argparse converts --hyphen-names to underscore dests, the same
    # normalization the reference opts into (main.R:173)
    p = argparse.ArgumentParser(prog="twitter_etl_spark")
    p.add_argument("--initial-setup", action="store_true",
                   help="create the sink table (DDL only unless --force-stream)")
    p.add_argument("--force-stream", action="store_true",
                   help="with --initial-setup: also run the stream loop")
    p.add_argument("--stream-chunks", type=int, default=5,
                   help="number of micro-batch chunks (main.R:159-164); "
                        "0 = live mode (unbounded processingTime stream)")
    p.add_argument("--stream-timeout", type=int, default=60,
                   help="micro-batch cadence seconds in live mode, i.e. "
                        "--stream-chunks 0 (main.R:165-170); ignored for "
                        "bounded runs, which drain the landing dir")
    p.add_argument("--keys", default="",
                   help="comma-separated track terms -> OR text filter (main.R:133-136)")
    p.add_argument("--db-file", default="/tmp/twitter_etl_spark/sink",
                   help="sink table path (parquet dir)")
    p.add_argument("--raw-data-dir", default="/tmp/twitter_etl_spark/raw_data",
                   help="NDJSON landing directory (main.R:50-53)")
    p.add_argument("--checkpoint-dir", default="/tmp/twitter_etl_spark/ckpt")
    return p


def main(argv: list[str] | None = None) -> int:
    opt = build_parser().parse_args(argv)

    from .session import get_spark
    from .sinks import create_table_if_absent
    from .sources import ensure_landing_dir
    from .streaming.microbatch import run_microbatch_pipeline

    spark = get_spark("twitter-etl-cli")

    if opt.initial_setup:
        path = create_table_if_absent(spark, opt.db_file + ".schema")
        print(f"initialized sink schema table at {path}")

    # the reference's gate: stream on plain invocation OR setup+force
    if opt.initial_setup == opt.force_stream:
        ensure_landing_dir(opt.raw_data_dir)
        keys = [k.strip() for k in opt.keys.split(",") if k.strip()]

        if opt.stream_chunks <= 0:
            # live mode: unbounded processingTime stream at the
            # reference's per-chunk cadence (main.R:165-170)
            q = run_microbatch_pipeline(
                spark,
                opt.raw_data_dir,
                opt.db_file,
                opt.checkpoint_dir,
                bounded=False,
                cadence_seconds=opt.stream_timeout,
                keys=keys,
            )
            print(f"live stream started (every {opt.stream_timeout}s) "
                  f"-> {opt.db_file}; Ctrl-C to stop")
            q.awaitTermination()
        else:
            # bounded run: availableNow drains the landing dir once per
            # chunk invocation (the reference loops N blocking chunks)
            for _chunk in range(opt.stream_chunks):
                run_microbatch_pipeline(
                    spark,
                    opt.raw_data_dir,
                    opt.db_file,
                    opt.checkpoint_dir,
                    bounded=True,
                    keys=keys,
                )
            print(f"ran {opt.stream_chunks} chunk(s) -> {opt.db_file}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
