"""Tiny-scale self-test of the benchmark itself.

    python3 perfbench/selftest.py

Checks that the generator is deterministic, that the output checker
catches a deliberately corrupted sink row, and that the metric names
and units the command prints match ``BENCHMARK.json``. Takes about two
minutes (three short Spark sessions). Exits non-zero on any failure.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def check_generator_deterministic() -> None:
    import gen

    tmp = tempfile.mkdtemp(dir=os.getcwd())
    try:
        a = gen.write_landing(os.path.join(tmp, "a"), 5, 3, 200)
        b = gen.write_landing(os.path.join(tmp, "b"), 5, 3, 200)
        c = gen.write_landing(os.path.join(tmp, "c"), 6, 3, 200)
        for pa, pb in zip(a, b):
            assert filecmp.cmp(pa, pb, shallow=False), f"{pa} and {pb} differ for one seed"
            assert os.path.getmtime(pa) == os.path.getmtime(pb)
        assert not filecmp.cmp(a[0], c[0], shallow=False), "two seeds gave one file"
        mtimes = [os.path.getmtime(p) for p in a]
        assert mtimes == sorted(set(mtimes)), "landing mtimes must strictly increase"
        for p in a:
            with open(p, "rb") as f:
                assert f.read().isascii(), f"{p} is not ASCII"
    finally:
        shutil.rmtree(tmp)


def check_corrupt_row_caught() -> None:
    """Run one tiny etl_stream round, check it clean, then change one
    sink row and check that exactly that row's batch fails."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import run
    from tracing import Tracer
    from workloads import EtlStream

    out_dir = os.path.abspath(".perfbench_out")
    cwd = os.getcwd()
    work = run._hygiene(out_dir)
    w = EtlStream(seed=3, seconds=0, tracer=Tracer(False), work=work)
    w.files, w.docs_per_file = 2, 100
    try:
        w.measure()
        assert w.attempted == 6 and w.failed == 0, f"clean round: {w.failed}/{w.attempted} failed"
        unit = w.units[0]
        sink = os.path.join(unit["dir"], "sink")
        path = os.path.join(sink, sorted(f for f in os.listdir(sink) if f.endswith(".parquet"))[0])
        t = pq.read_table(path)
        content = pc.binary_join_element_wise(t["content"], " corrupted", "")
        pq.write_table(t.set_column(t.schema.get_field_index("content"), "content", content), path)
        w.check_unit(unit)
        assert 1 <= unit["failed"] <= 2, f"corrupted sink gave {unit['failed']} failed batches"
    finally:
        if w.spark is not None:
            run._stop_jvm(w.spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


def check_metric_names() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "etl_stream",
             "--seed", "0", "--seconds", "1", "--trace", str(trace)],
            capture_output=True, text=True, check=True, cwd=ROOT,
        )
        result = json.loads(out.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0, result
        printed = {k: v["unit"] for k, v in result["metrics"].items()}
        declared = {m["name"]: m["unit"] for m in spec[key]}
        assert printed == declared, f"--trace {trace}: {set(printed) ^ set(declared)}"


def main() -> int:
    failed = 0
    for check in (check_generator_deterministic, check_corrupt_row_caught, check_metric_names):
        try:
            check()
            print(f"PASS {check.__name__}")
        except Exception as e:  # noqa: BLE001 - report every check
            failed += 1
            print(f"FAIL {check.__name__}: {type(e).__name__}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
