"""Print the staleness-ordered cert-prefix rotation for next round.

Usage: python tools/gen_cert_rotation.py [n_new_slots]

Reads every CORRECTNESS_r*.json, computes each registry query's most
recent green driver round (hash-match, or rows>0 for no-oracle rows),
and prints the 50-slot prefix the rotation policy demands: the
(50 − n_new_slots) stalest certified names oldest-round-first, with
the remaining slots left for the round's new ops (never-certified
names are listed separately — they MUST take prefix slots in their
birth round). Rows-only names (no DuckDB oracle) are skipped and
listed as comments: rotation rule 3 admits one to the prefix only
through the ``deliberate_rows_only`` allowlist of
tests/test_cli.py::test_cert_prefix_all_oracle_backed, so pasting the
printed names never turns that test red. This is the mechanical
counterpart of tests/test_cli.py::test_cert_prefix_staleness_policy,
which goes red the moment a new CORRECTNESS file lands until the
prefix is rotated.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from twitter_etl_spark.queries import ALL_ORACLES, ALL_QUERIES  # noqa: E402


def main() -> int:
    n_new = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    last: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(f.rsplit("_r", 1)[1].split(".")[0])
        for name, row in json.load(open(f)).items():
            # hash_match is the driver's real gate for oracle-backed
            # names — rows_match alone called the r12 groupingsets red
            # "green" and would have rotated it out while failing
            green = (
                row.get("err") is None
                and row.get("rows_match")
                and row.get("hash_match", True)
            ) or (
                row.get("err") == "no_oracle"
                and (row.get("spark_rows") or 0) > 0
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)

    never = [n for n in ALL_QUERIES if n not in last]
    if never:
        print(f"# {len(never)} never-certified names (MUST take prefix "
              "slots this round):")
        for n in never:
            print(f"#   {n}")
    certified = sorted(
        (n for n in ALL_QUERIES if n in last), key=lambda n: (last[n], n)
    )
    take = 50 - n_new - len(never)
    rows_only = [n for n in certified[:take] if n not in ALL_ORACLES]
    if rows_only:
        print(f"# {len(rows_only)} rows-only names skipped (rule 3: allowlist "
              "one in test_cli.py deliberate_rows_only to certify it here):")
        for n in rows_only:
            print(f"#   {n}  r{last[n]}")
        certified = [n for n in certified if n in ALL_ORACLES]
    if take < 0:
        print(f"# ERROR: {n_new} reserved + {len(never)} never-certified "
              "names exceed the 50-slot prefix — the surplus never-certified "
              "names spill to next round's prefix (contract test will flag "
              "them until certified).")
        return 1
    print(f"# stalest {take} re-certs (oldest green round first); "
          f"{n_new} slots reserved for new ops:")
    for n in certified[:take]:
        print(f'    "{n}",  # r{last[n]}')
    return 0


if __name__ == "__main__":
    sys.exit(main())
