"""The benchmark's two workloads.

Each workload sets up a fresh Spark session (``session.get_spark``)
and warms it on its own small inputs, then runs a fixed number of
units of work — *rounds* for the streams, *passes* for ``llm_ops``;
``--seconds`` divided by the unit's nominal length — and checks every
unit's output after the clock stops. A traced run follows the same
schedule with tracing on in every unit; compare its ``trace.wall_s``
with ``wall_s`` of an untraced run for the tracing overhead.

See ``README.md`` in this directory for why each workload exists and
for the cache and warm-up policy.
"""

from __future__ import annotations

import glob
import os
import time
import traceback

import check
import gen
from tracing import Codegen, add_work, cpu_ticks, median, spark_work

#: ``etl_stream``: many small landing files; three closed-loop streams.
STREAM_FILES, STREAM_DOCS = 8, 1000
#: warm-up landing dir (different seed, separate dir); two files, so the
#: global-dedup warm-up also runs its index anti-join
WARM_FILES, WARM_DOCS = 2, 200

#: ``llm_ops``: the heavy iterative / codegen / ``mapInArrow`` queries,
#: run in this order in every pass, so one-off costs fall on the same
#: queries in every run.
LLM_QUERIES = (
    "q_graph_labelprop",
    "q_graph_ppr",
    "q_er_cluster",
    "q_geo_dbscan",
    "q_sim_lsh_rhp",
    "q_sim_lsh_rhp_strict",
    "q_sim_ann_pq_trained",
)
#: fixtures of the timed pass, and the smaller ones of the warm-up
LLM_SF, LLM_WARM_SF = 0.01, 0.001
#: input rows each query scans (fixture table sizes at LLM_SF).
_LLM_ROWS = {"lineitem": int(6_000_000 * LLM_SF), "customer": int(150_000 * LLM_SF), "embeddings": 500}
_LLM_TABLE = {
    "q_graph_labelprop": "lineitem",
    "q_graph_ppr": "lineitem",
    "q_er_cluster": "customer",
}


def _dir_stats(path: str, pattern: str = "**/*.parquet") -> tuple[int, int]:
    files = glob.glob(os.path.join(path, pattern), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


class Workload:
    """Shared set-up, measuring loop and bookkeeping."""

    name = ""
    #: nominal seconds per unit; a run measures ``seconds / unit_s`` units
    unit_s = 1.0

    def __init__(self, seed: int, seconds: float, tracer, work: str):
        self.seed, self.seconds, self.tracer, self.work = seed, seconds, tracer, work
        self.spark = None
        self.setup_s = self.session_start_s = 0.0
        self.units: list[dict] = []  # one per round / pass
        self.attempted = self.failed = 0
        self.notes: list[str] = []

    # -- set-up -----------------------------------------------------
    def prepare_warmup(self):
        """Generate the warm-up inputs (not timed)."""

    def warm(self, spark, ctx) -> None:
        raise NotImplementedError

    def set_up(self) -> None:
        """The cold set-up: ``get_spark`` launches the JVM, then the
        warm-up runs. Input generation is not timed."""
        from twitter_etl_spark.session import get_spark

        ctx = self.prepare_warmup()
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("get_spark"):
                self.spark = get_spark("perfbench")
            self.session_start_s = time.perf_counter() - t0
            self.warm(self.spark, ctx)
        self.setup_s = time.perf_counter() - t0

    # -- measuring --------------------------------------------------
    def run_unit(self, i: int, traced: bool) -> dict:
        raise NotImplementedError

    def measure(self) -> None:
        self.set_up()
        self.codegen = Codegen(self.spark)
        steal0, total0 = cpu_ticks()
        # a fixed number of units, so every run does the same work
        for i in range(max(1, round(self.seconds / self.unit_s))):
            self.units.append(self.run_unit(i, self.tracer.enabled))
        steal1, total1 = cpu_ticks()
        self.steal_share = (steal1 - steal0) / max(1, total1 - total0)
        t0 = time.perf_counter()
        for unit in self.units:
            self.check_unit(unit)
            self.attempted += unit["ops"]
            self.failed += unit["failed"]
        self.check_s = time.perf_counter() - t0

    def check_unit(self, unit: dict) -> None:
        raise NotImplementedError

    # -- results ----------------------------------------------------
    def end_to_end(self) -> dict:
        """wall_s, docs_per_s and the per-batch latencies in ms: one
        micro-batch's ``triggerExecution`` on the streams, one pass on
        ``llm_ops``."""
        return {
            "setup_s": self.setup_s,
            "wall_s": median(u["wall_s"] for u in self.units),
            "docs_per_s": median(u["docs"] / u["wall_s"] for u in self.units),
            "batch_ms": [ms for u in self.units for ms in u["batch_ms"]],
        }

    def per_layer(self) -> dict:
        """Per-layer values, median over the (traced) units."""
        out = {k: median(u["layer"][k] for u in self.units) for k in self.units[0]["layer"]}
        out["session.start_s"] = self.session_start_s
        out["trace.wall_s"] = median(u["wall_s"] for u in self.units)
        out["trace.self_s"] = median(u["trace_s"] for u in self.units)
        return out


# ----------------------------------------------------------------------
# stream workload
# ----------------------------------------------------------------------


def _dur(batches, *keys) -> list[float]:
    return [sum(b["duration_ms"].get(k, 0) for k in keys) for b in batches]


class EtlStream(Workload):
    """The reference's loop over many small landing files: the append
    stream, the per-lang rollup, then the global-dedup stream, whose
    every batch reads the key-digest index."""

    name = "etl_stream"
    files, docs_per_file = STREAM_FILES, STREAM_DOCS
    unit_s = 25.0

    def runners(self):
        """(label, runner, output subdir) in run order."""
        from twitter_etl_spark.streaming.microbatch import (
            run_microbatch_pipeline,
            run_microbatch_pipeline_global_dedup,
            run_streaming_rollup,
        )

        return (
            ("sink", run_microbatch_pipeline, "sink"),
            ("rollup", run_streaming_rollup, "rollup"),
            ("dedup", run_microbatch_pipeline_global_dedup, "dedup"),
        )

    def prepare_warmup(self) -> str:
        d = os.path.join(self.work, "warm")
        gen.write_landing(os.path.join(d, "landing"), self.seed * 1000 + 900, WARM_FILES, WARM_DOCS)
        return d

    def warm(self, spark, d: str) -> None:
        for label, runner, out in self.runners():
            runner(spark, os.path.join(d, "landing"), os.path.join(d, out), os.path.join(d, f"ck_{label}"))

    def run_unit(self, i: int, traced: bool) -> dict:
        spark, tracer = self.spark, self.tracer
        d = os.path.join(self.work, f"round{i}")
        landing = os.path.join(d, "landing")
        gen.write_landing(landing, self.seed * 1000 + i, self.files, self.docs_per_file)
        n_ops = self.files * len(self.runners())
        unit = {"dir": d, "docs": self.files * self.docs_per_file, "ops": n_ops, "errors": 0}
        if traced:
            tracer.listen(spark)
            cg = self.codegen.read()
        queries = {}
        self_s = tracer.self_s
        t0 = time.perf_counter()
        with tracer.span(f"round{i}", workload=self.name):
            for label, runner, out in self.runners():
                with tracer.span(runner.__name__):
                    try:
                        queries[label] = runner(
                            spark, landing, os.path.join(d, out), os.path.join(d, f"ck_{label}")
                        )
                    except Exception:  # noqa: BLE001 - a failed stream is a failed op
                        traceback.print_exc()
                        unit["errors"] += self.files
        unit["wall_s"] = time.perf_counter() - t0
        unit["batch_ms"] = [
            float(p.durationMs["triggerExecution"]) for q in queries.values() for p in q.recentProgress
        ]
        if traced:
            tracer.unlisten(spark)
            unit["trace_s"] = tracer.self_s - self_s
            unit["layer"] = self.layer(d, landing, queries, unit["wall_s"])
            unit["layer"].update({f"codegen.{k}": v for k, v in self.codegen.since(cg).items()})
        return unit

    def layer(self, d: str, landing: str, queries: dict, wall_s: float) -> dict:
        from twitter_etl_spark.sources import read_ndjson
        from twitter_etl_spark.streaming.microbatch import key_index_path, transform_batch

        sc = self.spark.sparkContext
        prog, work = {}, {}
        for label, q in queries.items():
            run_id = str(q.runId)
            prog[label] = self.tracer.batches(run_id)
            work = add_work(work, spark_work(self.spark, sc.statusTracker().getJobIdsForGroup(run_id), wall_s))
        # the scheduling gap is of the whole round, not a sum of gaps
        work["sched_gap_s"] = wall_s - work["executor_run_s"] / sc.defaultParallelism
        allb = [b for bs in prog.values() for b in bs]
        sink_add = _dur(prog.get("sink", []), "addBatch")
        dedup_add = _dur(prog.get("dedup", []), "addBatch")
        with self.tracer.span("transform_batch"):
            t0 = time.perf_counter()
            transform_batch(read_ndjson(self.spark, landing)).write.format("noop").mode("overwrite").save()
            transform_s = time.perf_counter() - t0
        add_s = sum(sink_add) / 1e3
        sinks = [_dir_stats(os.path.join(d, out)) for out in ("sink", "dedup")]
        index = key_index_path(os.path.join(d, "dedup"))
        self.notes.append(f"{d}: global-dedup addBatch per batch {dedup_add} ms")
        return {
            "sources.offset_ms_p50": median(_dur(allb, "latestOffset", "getBatch")),
            "sources.rows_in": sum(b["rows"] for b in allb),
            "microbatch.batches": len(allb),
            "microbatch.trigger_ms_p50": median(_dur(allb, "triggerExecution")),
            "microbatch.planning_ms_p50": median(_dur(allb, "queryPlanning")),
            "microbatch.commit_ms_p50": median(_dur(allb, "walCommit", "commitOffsets")),
            **{f"spark.{k}": v for k, v in work.items()},
            "pipeline.transform_s": transform_s,
            "pipeline.add_batch_s": add_s,
            "pipeline.transform_share": transform_s / add_s if add_s else 0.0,
            "sinks.add_batch_ms_p50": median(sink_add + dedup_add),
            "sinks.files_written": sum(n for n, _ in sinks),
            "sinks.bytes_written": sum(b for _, b in sinks),
            "sinks.index_files": _dir_stats(index)[0],
            "sinks.index_read_bytes": _index_read_bytes(index),
            "sinks.add_batch_ms_first": dedup_add[0] if dedup_add else 0.0,
            "sinks.add_batch_ms_last": dedup_add[-1] if dedup_add else 0.0,
            "rollup.add_batch_ms_p50": median(_dur(prog.get("rollup", []), "addBatch")),
            "rollup.versions": len(glob.glob(os.path.join(d, "rollup", "v=*"))),
            "rollup.bytes_written": _dir_stats(os.path.join(d, "rollup"))[1],
        }

    def check_unit(self, unit: dict) -> None:
        """The append sink against per-file keep-first, the rollup
        against per-lang aggregates, the dedup sink against keep-first
        across all files. A mismatching sink row fails the batch of its
        file in that stream; a wrong rollup fails every rollup batch."""
        d = unit["dir"]
        landing = os.path.join(d, "landing")
        con = check.connect(os.path.join(self.work, "duckdb"))
        try:
            bad = check.keep_first_mismatches(con, landing, os.path.join(d, "sink"), per_file=True)
            bad_rollup = check.rollup_mismatches(con, landing, os.path.join(d, "rollup"))
            bad_dedup = check.keep_first_mismatches(con, landing, os.path.join(d, "dedup"), per_file=False)
        finally:
            con.close()
        failed = sum(len({row[0] // self.docs_per_file for row in b}) for b in (bad, bad_dedup))
        failed += self.files if bad_rollup else 0
        unit["failed"] = min(unit["ops"], max(failed, unit["errors"]))
        if bad or bad_rollup or bad_dedup:
            self.notes.append(
                f"{d}: {sum(bad.values())} sink rows, {bad_rollup} rollup rows and "
                f"{sum(bad_dedup.values())} global-dedup rows differ"
            )


def _index_read_bytes(index_dir: str) -> int:
    """Bytes of key-digest index that the batches' anti-joins scanned:
    each batch reads every index file written before it. One append
    writes a group of part files sharing a job id in their names."""
    groups: dict[str, list] = {}
    for f in glob.glob(os.path.join(index_dir, "part-*.parquet")):
        job = os.path.basename(f).split("-", 2)[2][:36]
        groups.setdefault(job, []).append(f)
    sized = sorted(
        (min(os.path.getmtime(f) for f in fs), sum(os.path.getsize(f) for f in fs))
        for fs in groups.values()
    )
    # a group written by batch j is read by every later batch
    n = len(sized)
    return sum(size * (n - 1 - j) for j, (_, size) in enumerate(sized))


# ----------------------------------------------------------------------
# query suite
# ----------------------------------------------------------------------


class LlmOps(Workload):
    """The heavy query suite, one query per op, results collected."""

    name = "llm_ops"
    unit_s = 30.0

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.fixtures = gen.write_fixtures(os.path.join(self.work, "fx"), self.seed, LLM_SF)

    def prepare_warmup(self) -> str:
        return gen.write_fixtures(os.path.join(self.work, "fx_warm"), self.seed * 1000 + 900, LLM_WARM_SF)

    def warm(self, spark, fixtures: str) -> None:
        """Engine warm-up on the tiny fixtures with the operators the
        queries use (scan, self-join, aggregate, checkpoint, window,
        sort, explode, an Arrow collect and a Python worker), but none
        of the queries themselves (see README)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from twitter_etl_spark.tables import table

        li = table(spark, fixtures, "lineitem").select("l_orderkey", "l_partkey")
        pairs = li.join(li.withColumnRenamed("l_partkey", "p2"), "l_orderkey").where("l_partkey < p2")
        deg = pairs.groupBy("l_partkey").agg(F.min("p2").alias("m"), F.count(F.lit(1)).alias("n"))
        w = Window.partitionBy("m").orderBy(F.desc("n"), "l_partkey")
        deg.localCheckpoint().withColumn("r", F.row_number().over(w)).where("r = 1").orderBy("m").toPandas()
        names = table(spark, fixtures, "customer").select(F.levenshtein("c_name", F.lit("Customer#000000001"), 2))
        names.groupBy(names.columns[0]).count().collect()
        emb = table(spark, fixtures, "embeddings")
        emb.select("vec_id", F.posexplode("embedding")).groupBy("pos").agg(F.sum("col")).collect()
        emb.mapInArrow(lambda batches: batches, emb.schema).count()

    def run_unit(self, i: int, traced: bool) -> dict:
        from twitter_etl_spark.cacheutil import clear_slots
        from twitter_etl_spark.queries import ALL_QUERIES

        spark, sc, tracer = self.spark, self.spark.sparkContext, self.tracer
        # nothing cached by an earlier pass may serve this one
        clear_slots()
        spark.catalog.clearCache()
        unit = {"ops": len(LLM_QUERIES), "results": {}, "errors": set(), "query_s": {}, "trace_s": 0.0}
        codegen = {}
        t0 = time.perf_counter()
        with tracer.span(f"pass{i}", workload=self.name):
            for name in LLM_QUERIES:
                if traced:
                    m0 = time.perf_counter()
                    sc.setJobGroup(f"perfbench:{i}:{name}", name)
                    cg = self.codegen.read()
                    unit["trace_s"] += time.perf_counter() - m0
                q0 = time.perf_counter()
                with tracer.span(name):
                    try:
                        unit["results"][name] = ALL_QUERIES[name](spark, self.fixtures).toPandas()
                    except Exception:  # noqa: BLE001 - a failed query is a failed op
                        traceback.print_exc()
                        unit["errors"].add(name)
                unit["query_s"][name] = time.perf_counter() - q0
                if traced:
                    m0 = time.perf_counter()
                    codegen[name] = self.codegen.since(cg)
                    unit["trace_s"] += time.perf_counter() - m0
        unit["wall_s"] = time.perf_counter() - t0
        # the pass is the batch: see README
        unit["batch_ms"] = [unit["wall_s"] * 1e3]
        unit["docs"] = sum(_LLM_ROWS[_LLM_TABLE.get(n, "embeddings")] for n in LLM_QUERIES)
        if traced:
            sc.setJobGroup("perfbench:idle", "")
            unit["layer"] = self.layer(i, unit, codegen)
        return unit

    def layer(self, i: int, unit: dict, codegen: dict) -> dict:
        """Per-query and summed Spark work and codegen of pass ``i``."""
        sc = self.spark.sparkContext
        out, work = {}, {}
        for name, secs in unit["query_s"].items():
            jobs = sc.statusTracker().getJobIdsForGroup(f"perfbench:{i}:{name}")
            w = spark_work(self.spark, jobs, secs)
            work = add_work(work, w)
            p = f"queries.{name}"
            out.update(
                {
                    f"{p}.s": secs,
                    f"{p}.jobs": w["jobs"],
                    f"{p}.tasks": w["tasks"],
                    f"{p}.sched_gap_s": w["sched_gap_s"],
                    f"{p}.codegen_ms": codegen[name]["compile_ms"],
                }
            )
        work["sched_gap_s"] = unit["wall_s"] - work["executor_run_s"] / sc.defaultParallelism
        out.update({f"spark.{k}": v for k, v in work.items()})
        out["codegen.classes"] = sum(c["classes"] for c in codegen.values())
        out["codegen.compile_ms"] = sum(c["compile_ms"] for c in codegen.values())
        return out

    def check_unit(self, unit: dict) -> None:
        import json

        from twitter_etl_spark.queries import ALL_ORACLES

        if not hasattr(self, "_expected"):
            with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")) as f:
                pinned = json.load(f)
            con = check.connect(os.path.join(self.work, "duckdb"))
            try:
                check.fixture_views(con, self.fixtures)
                self._expected = {
                    n: check.frame_digest(con.execute(ALL_ORACLES[n]).df()) if n in ALL_ORACLES else pinned[n]
                    for n in LLM_QUERIES
                }
            finally:
                con.close()
        bad = {name: "raised" for name in unit["errors"]}
        for name, pdf in unit["results"].items():
            digest = check.frame_digest(pdf)
            if digest != self._expected[name]:
                bad[name] = f"digest {digest}"
        unit["failed"] = len(bad)
        for name, why in sorted(bad.items()):
            self.notes.append(f"{name} differs from its reference: {why}")
        unit["results"] = {}


WORKLOADS = {w.name: w for w in (EtlStream, LlmOps)}
