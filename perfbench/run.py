"""Closed-loop benchmark of the engine's oracle-backed queries.

One client runs one query at a time on ``local[nproc]`` with the
session defaults of ``get_spark``. A run:

1. generates the workload's seeded inputs (cached per seed, untimed);
2. sets up a session: ``get_spark`` + a noop scan of every input table
   + one Python worker per core;
3. runs every query once and checks its result against the DuckDB
   oracle (this pass also warms codegen and the JIT);
4. sets up a new session twice more; ``setup_s`` is the median of the
   ``SETUPS`` set-ups;
5. times whole passes over the queries, each query from before
   ``Query.build()`` to full materialization, until ``--seconds`` have
   passed (at least ``MIN_PASSES``).

With ``--trace 1`` every other pass is traced (at least three passes:
untraced, traced, untraced): each call into the
engine gets a span and its own Spark job group, and the per-layer
metrics are read back from Spark's status store after the last pass.

Usage:
    python3 perfbench/run.py --workload interactive --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it is the full report (every metric, the tail percentile and sample
count, and the host-noise ledger).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(HERE, ".cache")

#: session set-ups per run; ``setup_s`` is their median.
SETUPS = 3
#: timed passes per run at least, whatever ``--seconds`` is. One pass
#: keeps a run near 55 s, so 48 runs fit a one-hour budget; a traced run
#: needs an untraced pass on each side of its traced one.
MIN_PASSES = 1
TRACED_MIN_PASSES = 3
#: shards per ``write_training_shards`` call in ``etl_write``.
SHARDS = 4


@dataclass(frozen=True)
class Workload:
    sink: str  # "noop" or "shards"
    queries: tuple[str, ...]


#: why each workload exists: perfbench/README.md and BENCHMARK.json.
WORKLOADS = {
    "interactive": Workload(
        "noop",
        (
            "pricing_summary",
            "flagship_dup_groups",
            "revenue_by_nation",
            "museum_pipeline",
            "running_customer_spend",
            "text_stats",
            "cosine_topk",
            "events_tumbling_1h",
            "user_sessions",
            "quality_flags",
            "eval_contamination",
        ),
    ),
    "etl_write": Workload(
        "shards",
        (
            "museum_pipeline",
            "image_etl_gridfs",
            "multimodal_transform",
            "gridfs_chunk_plan",
            "gridfs_roundtrip",
            "na_standardize_three_way",
            "snapshot_diff",
            "incremental_pending",
        ),
    ),
}

#: end-to-end metrics (untraced runs) and their units.
E2E_UNITS = {
    "pass_s": "s",
    "query_p50_s": "s",
    "query_geomean_s": "s",
    "query_tail_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
    "setup_s": "s",
    "error_rate": "ratio",
}

#: per-layer metrics (traced runs) and their units, per traced pass
#: unless the name says otherwise (session and catalog are per run).
LAYER_UNITS = {
    "session.start_s": "s",
    "session.gc_s": "s",
    "session.jvm_rss_mb": "MiB",
    "catalog.scan_s": "s",
    "catalog.input_mb": "MiB",
    "catalog.input_rows": "count",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.build_jobs": "count",
    "plans.jobs": "count",
    "plans.stages": "count",
    "partitioning.tasks": "count",
    "partitioning.task_mean_ms": "ms",
    "partitioning.sched_delay_s": "s",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.shuffle_write_mb": "MiB",
    "operators.shuffle_read_mb": "MiB",
    "operators.fetch_wait_s": "s",
    "operators.spill_mb": "MiB",
    "functions.python_cpu_s": "s",
    "functions.python_share": "ratio",
    "lifecycle.checkpoint_jobs": "count",
    "lifecycle.released": "count",
    "lifecycle.release_s": "s",
    "shards.write_s": "s",
    "shards.written_mb": "MiB",
    "shards.files": "count",
    "shards.write_amp": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.loop_s": "s",
}

#: metrics on the result line (see BENCHMARK.json). Left out:
#: ``query_p50_s``, one query's time out of 8 or 11 in a pass and so
#: noisier than ``query_geomean_s``, which averages every query;
#: ``error_rate``, 0 on a correct commit and carried by ``failed``;
#: ``query_tail_s``, which at one pass of 8 or 11 queries is the fastest
#: query (no sample has ten above it); ``peak_rss_mb``, which follows G1's heap growth
#: under the default 48 GB heap and varies by 20% between identical
#: runs; ``shards.write_s`` and ``operators.fetch_wait_s``, times that
#: are 0 on ``interactive`` and in local mode respectively.
E2E_REPORTED = ("pass_s", "query_geomean_s", "cpu_s", "setup_s")
LAYER_REPORTED = tuple(
    k for k in LAYER_UNITS if k not in ("shards.write_s", "operators.fetch_wait_s")
)

MIB = 1024 * 1024


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest sample with at least ten
    samples above it, its percentile and the sample count. Below eleven
    samples no sample qualifies and the minimum is reported at p0."""
    s = sorted(samples)
    n = len(s)
    k = max(n - 11, 0)
    return s[k], (100.0 * (n - 10) / n if k else 0.0), n


def configure_environment() -> None:
    """Keep every file the run writes inside the checkout, size the
    session to the CPUs this process may use, and put the repository
    on the Python workers' import path."""
    tmp = os.path.join(CACHE_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE_DIR, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None


def _warm_workers(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401

    yield from batches


class Bench:
    def __init__(self, wl: Workload, inputs_dir: str, trace: bool):
        from museum_image_etl_gridfs_spark.plans import all_queries

        self.wl = wl
        self.inputs_dir = inputs_dir
        self.trace = trace
        self.queries = all_queries()
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.errors: list[str] = []

    # -- session ---------------------------------------------------------

    def setup(self) -> tuple[float, float]:
        """(get_spark seconds, whole set-up seconds) of one fresh session."""
        from layers import TRACE_CONF, Tracer
        from museum_image_etl_gridfs_spark.catalog import TABLES, load
        from museum_image_etl_gridfs_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=TRACE_CONF if self.trace else None)
        start_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark.sparkContext, self.trace)
        for table in TABLES:
            with self.tracer.span("scan", table=table):
                load(self.spark, table, self.inputs_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(n).repartition(n).mapInPandas(_warm_workers, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
        return start_s, time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def jvm_jit_s(self) -> float:
        """Seconds the JVM's JIT compiler threads have spent compiling."""
        return self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime() / 1000

    def jvm_gc_s(self) -> float:
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000

    # -- queries ---------------------------------------------------------

    def shard_dir(self, name: str) -> str:
        return os.path.join(CACHE_DIR, "shards", name)

    def materialize(self, name: str, df) -> None:
        if self.wl.sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            from museum_image_etl_gridfs_spark.operators.shards import write_training_shards

            write_training_shards(df, self.shard_dir(name), df.columns[0], SHARDS)

    def _fail(self, what: str) -> None:
        self.errors.append(what)
        print(f"[perfbench] {what}", file=sys.stderr)

    def check_pass(self, expected: dict[str, dict]) -> None:
        """Run every query once and compare its result with the oracle;
        ``etl_write`` compares the shards read back from disk."""
        from inputs import result_digest
        from museum_image_etl_gridfs_spark.operators.lifecycle import release_checkpoints

        for name in self.wl.queries:
            self.attempted += 1
            try:
                df = self.queries[name].build(self.spark, self.inputs_dir)
                if self.wl.sink == "noop":
                    pdf = df.toPandas()
                else:
                    self.materialize(name, df)
                    pdf = (
                        self.spark.read.parquet(self.shard_dir(name))
                        .drop("shard", "shard_pos")
                        .toPandas()
                    )
                got = result_digest(pdf)
                want = {k: expected[name][k] for k in got}
                if got != want:
                    self._fail(f"wrong result: {name}: got {got}, oracle {want}")
            except Exception:  # noqa: BLE001 - counted in error_rate, run goes on
                self._fail(f"check failed: {name}: {traceback.format_exc(limit=3)}")
            finally:
                release_checkpoints(self.spark)

    def timed_pass(self, pass_no: int, traced: bool) -> dict:
        from layers import python_worker_cpu_s, tree_cpu_s
        from museum_image_etl_gridfs_spark.operators.lifecycle import release_checkpoints

        tracer = self.tracer
        tracer.enabled = traced
        rec: dict = {"pass": pass_no, "traced": traced, "query_s": {}}
        if traced:
            jvm_pid = self.jvm_pid()
            py0, gc0 = python_worker_cpu_s(jvm_pid), self.jvm_gc_s()
        jit0 = self.jvm_jit_s()
        cpu0 = tree_cpu_s()
        p0 = time.perf_counter()
        for name in self.wl.queries:
            self.attempted += 1
            try:
                with tracer.span("query", name=name, pass_no=pass_no) as span:
                    t0 = time.perf_counter()
                    with tracer.span("build"):
                        df = self.queries[name].build(self.spark, self.inputs_dir)
                    with tracer.span("materialize"):
                        self.materialize(name, df)
                    rec["query_s"][name] = time.perf_counter() - t0
            except Exception:  # noqa: BLE001 - counted in error_rate, run goes on
                self._fail(f"query failed: {name}: {traceback.format_exc(limit=3)}")
            with tracer.span("release", name=name, pass_no=pass_no) as rel:
                released = release_checkpoints(self.spark)
            if traced:
                rel["released"] = released
                if self.wl.sink == "shards":
                    files = [
                        os.path.join(d, f)
                        for d, _, fs in os.walk(self.shard_dir(name))
                        for f in fs
                        if f.endswith(".parquet")
                    ]
                    span["files"] = len(files)
                    span["written_bytes"] = sum(os.path.getsize(f) for f in files)
        rec["wall_s"] = time.perf_counter() - p0
        rec["cpu_s"] = tree_cpu_s() - cpu0
        rec["jit_s"] = self.jvm_jit_s() - jit0
        if traced:
            rec["python_cpu_s"] = python_worker_cpu_s(jvm_pid) - py0
            rec["gc_s"] = self.jvm_gc_s() - gc0
        return rec


def layer_metrics(
    spans: list[dict], passes: list[dict], session_start_s: float, jvm_rss_mb: float, input_bytes: int
) -> dict:
    """Per-layer metrics of the traced passes (see LAYER_UNITS).
    ``input_bytes`` is the on-disk size of the workload's input tables."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    k = len(traced)
    traced_no = {p["pass"] for p in traced}
    queries = {s["id"]: s for s in spans if s["kind"] == "query" and s["pass_no"] in traced_no}
    phase = {"build": [], "materialize": []}
    for s in spans:
        if s["kind"] in phase and s["parent"] in queries:
            phase[s["kind"]].append(s)
    work = phase["build"] + phase["materialize"] + list(queries.values())
    releases = [s for s in spans if s["kind"] == "release" and s["pass_no"] in traced_no]
    scans = [s for s in spans if s["kind"] == "scan"]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def total(ss, key):
        return sum(s.get(key, 0) for s in ss)

    task_ms = [v for s in work for v in s["task_ms"]]
    cpu = sum(p["cpu_s"] for p in traced)
    python_cpu = sum(p["python_cpu_s"] for p in traced)
    written = total(queries.values(), "written_bytes")
    wall = sum(p["wall_s"] for p in traced)
    build_s = dur(phase["build"]) / k
    exec_s = dur(phase["materialize"]) / k
    release_s = dur(releases) / k
    return {
        "session.start_s": session_start_s,
        "session.gc_s": sum(p["gc_s"] for p in traced) / k,
        "session.jvm_rss_mb": jvm_rss_mb,
        "catalog.scan_s": dur(scans),
        "catalog.input_mb": input_bytes / MIB,
        "catalog.input_rows": total(scans, "input_rows"),
        "plans.build_s": build_s,
        "plans.exec_s": exec_s,
        "plans.build_jobs": total(phase["build"], "jobs") / k,
        "plans.jobs": total(work, "jobs") / k,
        "plans.stages": total(work, "stages") / k,
        "partitioning.tasks": total(work, "tasks") / k,
        # a mean, not a median: task durations are whole milliseconds,
        # so their median repeats exactly from run to run
        "partitioning.task_mean_ms": statistics.fmean(task_ms) if task_ms else 0.0,
        "partitioning.sched_delay_s": sum(v for s in work for v in s["sched_delay_ms"]) / 1000 / k,
        "operators.executor_run_s": total(work, "run_ms") / 1000 / k,
        "operators.executor_cpu_s": total(work, "cpu_ns") / 1e9 / k,
        "operators.shuffle_write_mb": total(work, "shuffle_write_bytes") / MIB / k,
        "operators.shuffle_read_mb": total(work, "shuffle_read_bytes") / MIB / k,
        "operators.fetch_wait_s": total(work, "fetch_wait_ms") / 1000 / k,
        "operators.spill_mb": total(work, "spill_bytes") / MIB / k,
        "functions.python_cpu_s": python_cpu / k,
        "functions.python_share": python_cpu / cpu if cpu else 0.0,
        "lifecycle.checkpoint_jobs": total(work, "checkpoint_jobs") / k,
        "lifecycle.released": total(releases, "released") / k,
        "lifecycle.release_s": release_s,
        "shards.write_s": exec_s if written else 0.0,
        "shards.written_mb": written / MIB / k,
        "shards.files": total(queries.values(), "files") / k,
        "shards.write_amp": written / k / input_bytes,
        # untraced passes on both sides of the traced ones, so the JIT's
        # warming over the passes cancels out
        "trace.overhead_frac": statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in plain)
        - 1,
        "trace.loop_s": wall / k - build_s - exec_s - release_s,
    }


def host_ledger() -> dict:
    from museum_image_etl_gridfs_spark.hostmetrics import steal_cs

    return {"steal_cs": steal_cs(), "loadavg": list(os.getloadavg())}


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    import subprocess

    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
    )
    return out.stdout.strip() or None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    configure_environment()
    import inputs
    from layers import attribute, status_mb

    wl = WORKLOADS[args.workload]
    ledger0 = host_ledger()
    phases = {}
    t0 = time.perf_counter()
    inputs_dir = inputs.prepare_inputs(args.seed)
    bench = Bench(wl, inputs_dir, bool(args.trace))
    expected = inputs.expected_digests(bench.queries, wl.queries, inputs_dir)
    phases["inputs_s"] = time.perf_counter() - t0

    try:
        setups = [bench.setup()]
        t0 = time.perf_counter()
        bench.check_pass(expected)
        phases["check_s"] = time.perf_counter() - t0
        # the repeat set-ups also give the JIT time to work through what
        # the check pass queued (it is still busy in the timed pass)
        setups += [bench.setup() for _ in range(SETUPS - 1)]
        passes: list[dict] = []
        t0 = time.perf_counter()
        min_passes = TRACED_MIN_PASSES if bench.trace else MIN_PASSES
        while len(passes) < min_passes or time.perf_counter() - t0 < args.seconds:
            passes.append(bench.timed_pass(len(passes), bench.trace and len(passes) % 2 == 1))
        jvm_pid = bench.jvm_pid()
        peak_rss_mb = status_mb("VmHWM", jvm_pid) + status_mb("VmHWM")
        jvm_rss_mb = status_mb("VmRSS", jvm_pid)
        spark_version = bench.spark.version
        phases["passes_s"] = time.perf_counter() - t0
        if bench.trace:
            t0 = time.perf_counter()
            attribute(bench.spark, bench.tracer.spans)
            phases["attribute_s"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        bench.shutdown()
        phases["shutdown_s"] = time.perf_counter() - t0
    ledger1 = host_ledger()

    failed = len(bench.errors)
    plain = [p for p in passes if not p["traced"]]
    query_s = [v for p in plain for v in p["query_s"].values()]
    tail_s, tail_pct, tail_n = tail(query_s)
    e2e = {
        "pass_s": statistics.median(p["wall_s"] for p in plain),
        "query_p50_s": statistics.median(query_s),
        "query_geomean_s": statistics.geometric_mean(query_s),
        "query_tail_s": tail_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in plain),
        "peak_rss_mb": peak_rss_mb,
        "setup_s": statistics.median(s for _, s in setups),
        "error_rate": failed / bench.attempted,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": os.path.relpath(inputs_dir, ROOT),
        "passes": len(passes),
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "query_tail": {"percentile": tail_pct, "samples": tail_n},
        "setups_s": [s for _, s in setups],
        "phases_s": phases,
        "pass_wall_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
        "pass_jit_s": [p["jit_s"] for p in passes],
        "query_s": {n: [p["query_s"].get(n) for p in passes] for n in wl.queries},
        "errors": bench.errors,
        "ledger": {
            "steal_cs": ledger1["steal_cs"] - ledger0["steal_cs"],
            "loadavg_start": ledger0["loadavg"],
            "loadavg_end": ledger1["loadavg"],
            "nproc": len(os.sched_getaffinity(0)),
            "spark": spark_version,
            "git_commit": git_commit(),
        },
    }
    if bench.trace:
        input_bytes = sum(os.path.getsize(os.path.join(inputs_dir, f)) for f in os.listdir(inputs_dir))
        layers = layer_metrics(bench.tracer.spans, passes, setups[0][0], jvm_rss_mb, input_bytes)
        report["per_layer"] = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        trace_dir = os.path.join(CACHE_DIR, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"spans": bench.tracer.spans, "passes": passes}, f)
        metrics = {k: report["per_layer"][k] for k in LAYER_REPORTED}
    else:
        metrics = {k: report["end_to_end"][k] for k in E2E_REPORTED}
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": bench.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
