"""Benchmark command: the micro-batch ETL loop (append, rollup and
global-dedup streams) and the heavy query suite, against the package's public entry
points (``session.get_spark``, ``streaming.microbatch`` runners,
``queries.ALL_QUERIES``).

Usage, from the repository root::

    python3 perfbench/run.py --workload etl_stream --seed 1 --seconds 25 --trace 0

``--trace 0`` prints every end-to-end metric, ``--trace 1`` every
per-layer metric (and writes spans to ``.perfbench_out/``). The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it print
each metric by name with its unit, and notes.

Everything the run writes stays under ``.perfbench_out/`` in the
working directory; the per-run work directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "batch_ms_p50": "ms",
    "batch_ms_tail": "ms",
    "peak_rss_mb": "MB",
}

_QUERY_METRICS = {"s": "s", "jobs": "count", "tasks": "count", "sched_gap_s": "s", "codegen_ms": "ms"}


def per_layer_units() -> dict:
    from workloads import LLM_QUERIES

    units = {
        "session.start_s": "s",
        "codegen.classes": "count",
        "codegen.compile_ms": "ms",
        "sources.offset_ms_p50": "ms",
        "sources.rows_in": "rows",
        "microbatch.batches": "count",
        "microbatch.trigger_ms_p50": "ms",
        "microbatch.planning_ms_p50": "ms",
        "microbatch.commit_ms_p50": "ms",
        "pipeline.transform_s": "s",
        "pipeline.add_batch_s": "s",
        "pipeline.transform_share": "ratio",
        "sinks.add_batch_ms_p50": "ms",
        "sinks.files_written": "count",
        "sinks.bytes_written": "bytes",
        "sinks.index_files": "count",
        "sinks.index_read_bytes": "bytes",
        "sinks.add_batch_ms_first": "ms",
        "sinks.add_batch_ms_last": "ms",
        "rollup.add_batch_ms_p50": "ms",
        "rollup.versions": "count",
        "rollup.bytes_written": "bytes",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.sched_gap_s": "s",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.input_bytes": "bytes",
        "spark.spill_bytes": "bytes",
    }
    for q in LLM_QUERIES:
        units.update({f"queries.{q}.{k}": u for k, u in _QUERY_METRICS.items()})
    units["trace.wall_s"] = "s"
    units["trace.self_s"] = "s"
    return units


def _hygiene(out_dir: str) -> str:
    """Pin the environment before pyspark starts a JVM: ``local[nproc]``,
    a 1 GiB driver heap, the C1 JIT compiler only, the serial GC, the
    repo root on the worker ``PYTHONPATH`` (so Python workers import the
    package from any cwd), no console progress bar, and every temporary,
    spill and working file under ``out_dir``. Returns the per-run work
    directory, which is also the new cwd."""
    work = os.path.join(out_dir, f"work_{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # C1 only: in a JVM that lives one minute, C2 compilation kept 1.5 of
    # the 4 cores busy through the timed window, so the measured time hung
    # on how much CPU the host left to the compiler. Serial GC: G1 sizes
    # the heap from pause times, so peak RSS followed host speed (README).
    jvm = "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
    # the launcher JVM that spark-submit starts first
    env["SPARK_LAUNCHER_OPTS"] = f"{jvm} -Djava.io.tmpdir={tmp}"
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.sql.streaming.numRecentProgressUpdates=1000 "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={work} {jvm}' "
        "pyspark-shell"
    )
    os.chdir(work)
    sys.path.insert(0, ROOT)
    return work


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_stream", "llm_ops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    out_dir = os.path.abspath(".perfbench_out")
    work = _hygiene(out_dir)
    workload = None
    try:
        import twitter_etl_spark  # noqa: F401 - fail before any work without the package
        from tracing import Tracer, peak_rss_mb, tail
        from workloads import WORKLOADS

        tracer = Tracer(enabled=bool(args.trace))
        workload = WORKLOADS[args.workload](args.seed, args.seconds, tracer, work)
        workload.measure()
        rss = peak_rss_mb(workload.spark)
        e2e = workload.end_to_end()
        tail_ms, tail_pct, n_ops = tail(e2e["batch_ms"])
        values = {
            "setup_s": e2e["setup_s"],
            "wall_s": e2e["wall_s"],
            "docs_per_s": e2e["docs_per_s"],
            "batch_ms_p50": _median(e2e["batch_ms"]),
            "batch_ms_tail": tail_ms,
            "peak_rss_mb": rss,
        }
        units = END_TO_END
        if args.trace:
            units = per_layer_units()
            layer = workload.per_layer()
            values = {k: float(layer.get(k, 0.0)) for k in units}
            counts = {"per_layer": values, "units": len(workload.units)}
            tracer.dump(os.path.join(out_dir, f"trace_{args.workload}_{args.seed}.json"), counts)
        _report(workload, args, e2e, tail_pct, n_ops)
        for k, u in units.items():
            print(f"{k} = {values[k]:.6g} {u}")
        print(
            json.dumps(
                {
                    "correct": workload.failed == 0,
                    "attempted": workload.attempted,
                    "failed": workload.failed,
                    "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
                }
            )
        )
        sys.stdout.flush()
    finally:
        if workload is not None and workload.spark is not None:
            _stop_jvm(workload.spark)
        os.chdir(out_dir)
        shutil.rmtree(work, ignore_errors=True)
    return 0


def _median(xs) -> float:
    from tracing import median

    return median(xs)


def _report(workload, args, e2e: dict, tail_pct: float, n_ops: int) -> None:
    import gen
    import workloads as w

    print(f"# workload {args.workload} seed {args.seed}, {len(workload.units)} units, trace {args.trace}")
    print(f"# cold set-up {workload.setup_s:.3f} s, of which get_spark {workload.session_start_s:.3f} s")
    print(f"# CPU time stolen by the host while units ran: {100 * workload.steal_share:.1f}%")
    kind = "passes" if args.workload == "llm_ops" else "micro-batches"
    print(f"# batch_ms_tail is p{tail_pct:g} of {n_ops} {kind} (ten or more beyond it; the maximum if n <= 21)")
    print(f"# fail_ratio {workload.failed}/{workload.attempted}; output checks took {workload.check_s:.1f} s")
    if args.workload == "llm_ops":
        print(
            f"# queries in order {list(w.LLM_QUERIES)}; fixtures sf{w.LLM_SF} from the seed, "
            f"embeddings seed {gen.EMBEDDING_SEED}"
        )
        for u in workload.units:
            print(f"# query seconds: { {n: round(t, 3) for n, t in u['query_s'].items()} }")
    else:
        print(
            f"# landing: {w.STREAM_FILES} files x {w.STREAM_DOCS} docs per round; es share {gen.ES_SHARE}, "
            f"repost share {gen.REPOST_SHARE} (exact {gen.EXACT_REPOST_SHARE}, "
            f"same file {gen.SAME_FILE_REPOST_SHARE}), mention {gen.MENTION_SHARE}, url {gen.URL_SHARE}"
        )
    if args.trace:
        pl = workload.per_layer()
        print(
            f"# trace.wall_s {pl['trace.wall_s']:.3f} s: its difference from wall_s of an untraced run "
            f"is the tracing overhead; tracing code itself ran {pl['trace.self_s']:.4f} s per unit"
        )
        if args.workload == "etl_stream":
            print(
                f"# pipeline.transform_s {pl['pipeline.transform_s']:.3f} s vs sum(addBatch) "
                f"{pl['pipeline.add_batch_s']:.3f} s: share {pl['pipeline.transform_share']:.3f}"
            )
        if args.workload == "llm_ops":
            tasks = [[u["layer"][f"queries.{n}.tasks"] for n in w.LLM_QUERIES] for u in workload.units]
            print(f"# tasks per query, per pass: {tasks}")
    for note in workload.notes:
        print(f"# {note}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
