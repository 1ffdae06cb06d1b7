"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value", "unit", "queries", "value_all", "sf"}.
``value`` stays the original 12-query headline total (like-for-like
r1→rN trend); ``queries`` and ``value_all`` additionally cover the
round-3 heavy operator families (``HEAVY``).

Each query is timed to FULL materialization via the noop batch sink
(count() would let Catalyst prune every projected column — a "fast"
text query timed that way measures row counting, not the text work)
after a shared session warm-up so JVM/codegen startup is not
attributed to the first query.

Timing window (r8 semantics change): the clock starts BEFORE
``build()``. Some builders run Spark jobs at construction time —
``prefix_filter_jaccard_join`` materializes its vocabulary rank and a
tracked localCheckpoint of the collapsed groups — and excluding build
(the r7 behaviour) silently dropped that dominant stage from
``prefix_join_near_dups``'s number while tools/check_correctness.py
kept counting it. From r8 both artifacts time build+execute; r7's
prefix_join bench reading (2.41 s) is NOT comparable to r8's on this
query (the honest like-for-like r7 figure is its sweep spark_sec).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from museum_image_etl_gridfs_spark.hostmetrics import steal_cs, tree_cpu_s
from museum_image_etl_gridfs_spark.operators.lifecycle import release_checkpoints
from museum_image_etl_gridfs_spark.plans import all_queries
from museum_image_etl_gridfs_spark.session import get_spark

#: headline set: one per workload family (scan-agg, multiway join,
#: window, dedup-pipeline, text, vectors, events, near-dup sketch)
HEADLINE = (
    "pricing_summary",
    "flagship_dup_groups",
    "revenue_by_nation",
    "museum_pipeline",
    "running_customer_spend",
    "text_stats",
    "cosine_topk",
    "events_tumbling_1h",
    "user_sessions",
    "minhash_near_dups",
    "quality_flags",
    "eval_contamination",
)

#: round-3 heavy operator families, timed since round 4 (VERDICT r3
#: item 4): sweep-line concurrency, prefix-filter simjoin, basket
#: co-occurrence PMI, triangle census, and exact connected components.
#: Kept OUT of the ``value`` headline total so the r1→rN trend series
#: stays like-for-like; their timings appear in ``queries`` and in the
#: ``value_all`` total.
HEAVY = (
    "peak_concurrency",
    "prefix_join_near_dups",
    "pmi_collocations",
    "brand_triangle_stats",
    "near_dup_components_exact",
    # round-6 substring-dedup operator (full 5-gram inventory pass)
    "duplicated_spans",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    qs = all_queries()

    # warm-up: touch every table once so OS page cache / parquet
    # footer reads don't skew the first query
    from museum_image_etl_gridfs_spark.catalog import TABLES, load

    for t in TABLES:
        try:
            load(spark, t, sf_dir).count()
        except Exception:  # noqa: BLE001 - missing optional table
            pass

    # prime one Python worker per core (pandas/numpy import is ~1 s
    # per process; paying it inside a timed query would measure
    # interpreter startup, not engine throughput)
    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    n_cores = spark.sparkContext.defaultParallelism
    spark.range(n_cores).repartition(n_cores).mapInPandas(
        _warm, "id long"
    ).count()

    # codegen warm-up: run each headline query at the smallest SF so
    # janino-compiled fragments and analyzed plan shapes are cached;
    # the timed runs below then measure engine throughput on sf_dir
    # data, not one-time compilation
    def _materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for name in HEADLINE + HEAVY:
        try:
            _materialize(qs[name].build(spark, "/root/testdata/sf0.001"))
        except Exception as exc:  # noqa: BLE001
            # don't mask a broken query here — it will be reported as
            # {"err": ...} by the timed loop, but log it for operators
            print(f"[bench] warm-up failed for {name}: {exc!r}", file=sys.stderr)
    release_checkpoints(spark)

    # best-of-N per query, reps INTERLEAVED round-robin (rep 1 of every
    # query, then rep 2 of every query, ...): the host shows transient
    # multi-minute load bursts from co-tenants, and consecutive reps
    # all land inside one burst — a query's N attempts must be spread
    # across the whole bench window so at least one rep sees a quiet
    # host. The minimum is the engine's steady-state throughput; the
    # mean would measure the neighbors. One broken query must never
    # kill the whole bench: it is recorded under "errors" and excluded
    # from the total.
    # pre-flight window gate (VERDICT r10 item 5, tightened from the
    # r8 single-retry probe): round 10 produced ZERO clean headline
    # readings because one bounded retry gives up inside a multi-minute
    # co-tenant burst. The gate now WAITS for a genuinely clean window
    # — steal accruing < 1% of one cpu over the probe AND 1-min loadavg
    # below cores/4 — re-probing every $SPARK_GRAFT_BENCH_PREFLIGHT_WAIT
    # seconds (default 45) up to a total budget of
    # $SPARK_GRAFT_BENCH_PREFLIGHT_BUDGET seconds (default 900). Every
    # probe lands in the ledger, so a reader sees exactly what the
    # host looked like before timing started; if the budget runs out
    # the bench still runs, annotated ``clean: false`` — adjudicable
    # on its face either way.
    n_cpus = os.cpu_count() or 32
    preflight: dict = {"probes": [], "clean": False, "retried": False}

    def _probe_window() -> tuple[float, float]:
        s0 = steal_cs()
        time.sleep(2.0)
        steal_pct = (steal_cs() - s0) / (2.0 * n_cpus)  # % of one cpu
        return os.getloadavg()[0], steal_pct

    wait_s = int(os.environ.get("SPARK_GRAFT_BENCH_PREFLIGHT_WAIT", "45"))
    budget_s = float(
        os.environ.get("SPARK_GRAFT_BENCH_PREFLIGHT_BUDGET", "900")
    )
    gate_t0 = time.monotonic()
    while True:
        load, steal_pct = _probe_window()
        preflight["probes"].append(
            {"loadavg1": round(load, 2), "steal_pct": round(steal_pct, 2)}
        )
        if load < n_cpus / 4 and steal_pct < 1.0:
            preflight["clean"] = True
            break
        if time.monotonic() - gate_t0 + wait_s > budget_s:
            print(
                f"[bench] pre-flight: no clean window within {budget_s:.0f}s "
                f"(last: loadavg {load:.1f}, steal {steal_pct:.1f}%) — "
                "timing anyway, ledger marked dirty",
                file=sys.stderr,
            )
            break
        preflight["retried"] = True
        remaining = budget_s - (time.monotonic() - gate_t0)
        print(
            f"[bench] pre-flight: contended window (loadavg {load:.1f}, "
            f"steal {steal_pct:.1f}%) — sleeping {wait_s}s and re-probing "
            f"({remaining:.0f}s of budget left)",
            file=sys.stderr,
        )
        time.sleep(wait_s)
    # keep the r8 ledger field names for trend tooling
    preflight["loadavg1"] = preflight["probes"][-1]["loadavg1"]
    preflight["steal_pct"] = preflight["probes"][-1]["steal_pct"]

    steal0, wall0 = steal_cs(), time.perf_counter()
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    #: noise ledger OF THE MIN REP per query — the committed headline
    #: is a composition of per-query minimums (VERDICT r11 item 4), so
    #: each component must carry its own mid-window steal reading: a
    #: clean PREflight cannot vouch for a burst that arrives during
    #: the 2-minute timed window (4 of 4 r11 runs caught one).
    query_noise: dict[str, dict] = {}
    errors: dict[str, str] = {}

    def _timed_rep(name: str) -> None:
        """One materialized rep; keeps the min and its ledger."""
        try:
            # clock starts BEFORE build: construction-time jobs
            # (eager vocab rank / checkpoint in the simjoin) are
            # engine work and belong in the query's number — see
            # module docstring for the r8 semantics change
            s0, c0 = steal_cs(), tree_cpu_s()
            t0 = time.perf_counter()
            df = qs[name].build(spark, sf_dir)
            _materialize(df)
            dt = time.perf_counter() - t0
            d_steal = steal_cs() - s0
            if name not in timings or dt < timings[name]:
                timings[name] = round(dt, 4)
                query_noise[name] = {
                    "steal_cs": d_steal,
                    # %/cpu over this rep's window (repo convention:
                    # steal_cs / (wall_s * n_cpus))
                    "steal_pct_cpu": round(
                        d_steal / max(dt * n_cpus, 1e-9), 2
                    ),
                    # same-VM load is invisible to steal — record
                    # loadavg AND the row's own process-tree CPU
                    # (contention inflates wall, not CPU), so a
                    # clean-steal-but-slow reading is adjudicable
                    "loadavg1": round(os.getloadavg()[0], 2),
                    "task_cpu_s": round(tree_cpu_s() - c0, 1),
                }
        except Exception as exc:  # noqa: BLE001
            errors[name] = repr(exc)[:200]
            timings.pop(name, None)
            query_noise.pop(name, None)
            print(f"[bench] {name} FAILED: {exc!r}", file=sys.stderr)
        # free any localCheckpoint blocks the query pinned —
        # outside the timed window, so storage cannot accumulate
        # across the reps x queries loop (operators/lifecycle.py)
        release_checkpoints(spark)

    for _ in range(reps):
        for name in HEADLINE + HEAVY:
            if name in errors:
                continue
            _timed_rep(name)

    # targeted clean-retry pass (VERDICT r11 item 4): any query whose
    # BEST rep still carries a dirty mid-window ledger (≥1 %/cpu
    # steal) gets extra attempts, each behind a short clean-window
    # probe, until its min rep is clean or the retry budget runs out.
    # Bursts are minutes long but sparse — spreading the retries past
    # the main window is what the interleaved reps cannot do.
    retry_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_RETRY_BUDGET", "300")
    )
    retry_t0 = time.monotonic()
    dirty = [
        n
        for n in HEADLINE + HEAVY
        if n in timings and query_noise[n]["steal_pct_cpu"] >= 1.0
    ]
    while dirty and time.monotonic() - retry_t0 < retry_budget:
        load, steal_pct = _probe_window()
        if load >= n_cpus / 4 or steal_pct >= 1.0:
            time.sleep(min(15, max(1.0, retry_budget / 20)))
            continue
        name = dirty.pop(0)
        _timed_rep(name)
        if name not in errors and query_noise[name]["steal_pct_cpu"] >= 1.0:
            dirty.append(name)  # rotate: don't starve the others
    if dirty:
        print(
            f"[bench] clean-retry budget exhausted; still dirty: {dirty}",
            file=sys.stderr,
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    wall = time.perf_counter() - wall0
    out = {
        "metric": "headline_total",
        # trend-comparable series: the original 12-query headline only
        "value": round(sum(v for k, v in timings.items() if k in HEADLINE), 4),
        "unit": "sec",
        "queries": timings,
        "value_all": round(sum(timings.values()), 4),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # co-tenant noise ledger: hypervisor steal (centiseconds,
        # all-cpu) accrued over the timed window vs the window itself —
        # lets a reader adjudicate "regression vs noisy neighbor"
        # mechanically instead of re-running blind.
        "noise": {
            "steal_cs": steal_cs() - steal0,
            "wall_s": round(wall, 1),
            "loadavg1": round(os.getloadavg()[0], 2),
            "preflight": preflight,
            # per-query ledger of the MIN rep — the reading the
            # headline is composed of, adjudicable component-wise
            "per_query": query_noise,
        },
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
