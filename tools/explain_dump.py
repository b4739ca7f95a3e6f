"""Dump ``.explain("formatted")`` for named queries to text files.

Optimization-round evidence tool: the judge checks plan claims in
OPTIMIZATION_r{N}.md against committed ``plans/r{N}/<query>_{tag}.txt``
files. Usage::

    python tools/explain_dump.py --out plans/r17 --tag before name [name ...]
    python tools/explain_dump.py --out plans/r17 --tag after  name [name ...]

Plans are captured against the smallest fixture by default (plan
SHAPE is SF-independent — same convention as gen_plan_snapshot.py;
override with --sf or $SPARK_GRAFT_SF_DIR) with slot caches cleared
so the dump shows the cache-independent cold form. All names are
validated against the registry BEFORE any file is written (ADVICE
r16: a bad name used to exit 1 after partial output).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: default fixture: ``$SPARK_GRAFT_SF_DIR`` when set, else the fixed
#: sf0.001 fixture path below (plan shape only); ``--sf`` overrides both.
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="plans/r17")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from twitter_etl_spark.cacheutil import clear_slots
    from twitter_etl_spark.queries import ALL_QUERIES
    from twitter_etl_spark.session import get_spark

    unknown = [n for n in args.names if n not in ALL_QUERIES]
    if unknown:
        for name in unknown:
            print(f"{name}: UNKNOWN", file=sys.stderr)
        return 1

    spark = get_spark("explain-dump")
    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        clear_slots()
        spark.catalog.clearCache()
        df = ALL_QUERIES[name](spark, args.sf)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"{name}: {path} ({len(txt)} chars)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
