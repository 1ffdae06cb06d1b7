"""Local mimic of the driver's correctness gate.

Runs every registered query on Spark and its DuckDB oracle on the
same parquet tables, then compares row count, normalized schema, and
an order-insensitive value hash (:func:`compare`, which
``tests/test_registry.py`` also runs on every oracle at sf0.001).
Strictly harsher than necessary is fine — if this passes, the
driver's comparison should too.

Usage:
    python tools/check_correctness.py [--sf-dir /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from museum_image_etl_gridfs_spark.catalog import TABLES
from museum_image_etl_gridfs_spark.hostmetrics import steal_cs, tree_cpu_s
from museum_image_etl_gridfs_spark.operators.lifecycle import release_checkpoints
from museum_image_etl_gridfs_spark.plans import all_queries
from museum_image_etl_gridfs_spark.session import get_spark


class _NoiseClock:
    """Per-row co-tenant noise ledger (same fields as bench.py's):
    steal centiseconds accrued over the row's wall window + loadavg at
    row end. Lets a reader adjudicate a slow sweep row as contention
    vs regression after the fact — the round-6 lesson (839 s vs 232 s
    on identical data, unadjudicable without the ledger)."""

    def start(self) -> None:
        self._steal0, self._wall0 = steal_cs(), time.time()
        self._load0 = os.getloadavg()[0]
        self._cpu0 = tree_cpu_s()

    def block(self) -> dict:
        wall = time.time() - self._wall0
        return {
            "steal_cs": steal_cs() - self._steal0,
            "wall_s": round(wall, 1),
            # loadavg at BOTH ends of the row: a contended middle is
            # invisible to an end-only sample when the row's own last
            # stage is narrow (the round-7 duplicated_spans lesson —
            # 326 s contended row closed at loadavg 2.7)
            "loadavg1_start": round(self._load0, 2),
            "loadavg1": round(os.getloadavg()[0], 2),
            # process-tree CPU burned by the row (driver + JVM +
            # Python workers): contention-immune — compare across
            # rounds where wall_s cannot be trusted
            "task_cpu_s": round(tree_cpu_s() - self._cpu0, 1),
        }


def duck_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize dtypes/values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode())
        for v in df[c].tolist():
            if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA:
                h.update(b"\x00null")
            elif isinstance(v, float):
                h.update(f"{v:.10g}".encode())
            else:
                h.update(str(v).encode())
        h.update(b"\x01")
    return h.hexdigest()


def compare(s_n: pd.DataFrame, o_n: pd.DataFrame) -> str:
    """Compare a Spark result with its oracle result, both already
    passed through :func:`normalize`: schema, then row count, then
    value hash.

    Returns ``"OK"`` or the first mismatch status; on a hash mismatch
    the first differing cells are printed.
    """
    if list(s_n.columns) != list(o_n.columns):
        return f"SCHEMA_MISMATCH spark={list(s_n.columns)} oracle={list(o_n.columns)}"
    if len(s_n) != len(o_n):
        return f"ROWCOUNT_MISMATCH spark={len(s_n)} oracle={len(o_n)}"
    if value_hash(s_n) != value_hash(o_n):
        diff = s_n.compare(o_n)
        if not diff.empty:
            print(diff.head(10))
        return "HASH_MISMATCH"
    return "OK"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("names", nargs="*", help="subset of query names")
    ap.add_argument("--out", default=None, help="write full per-query results JSON here")
    ap.add_argument(
        "--count-only",
        default="",
        help="comma-separated names verified by exact COUNT compare only "
        "(values hash-checked at sf0.01 as always; used at big SF where "
        "the pair-quadratic oracle output is tens of millions of rows)",
    )
    ap.add_argument(
        "--spark-only",
        default="",
        help="comma-separated names run Spark-side only (rows + engine "
        "time; used where the oracle is intractable at this SF)",
    )
    ap.add_argument(
        "--warm-dir",
        default="/root/testdata/sf0.001",
        help="fixture dir each query is built+materialized against ONCE "
        "before its timed run, so spark_sec measures engine work rather "
        "than first-run codegen/Arrow-init (the bench.py warm-up pattern; "
        "rounds 1-8 repeatedly adjudicated 10-20s sweep rows that were "
        "pure per-session compile — bm25 19.9s cold vs 0.9s warm). "
        "Pass an empty string to disable (pre-r9 cold semantics).",
    )
    args = ap.parse_args()
    count_only = {n for n in args.count_only.split(",") if n}
    spark_only = {n for n in args.spark_only.split(",") if n}

    spark = get_spark("correctness-check")
    con = duck_connection(args.sf_dir)
    qs = all_queries()
    names = args.names or sorted(qs)
    failures, results = [], {}
    clock = _NoiseClock()

    def _warm(q) -> bool:
        """Best-effort warm-up; returns whether it actually ran.

        A missing warm fixture or a warm-build failure must not be
        silent (ADVICE r8): every row records ``warmed`` so a cold
        timing can never masquerade as a warmed one, and the failure
        is reported to stderr (the timed run still reports any real
        query failure itself).
        """
        if not args.warm_dir:
            return False
        try:
            q.build(spark, args.warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return True
        except Exception as e:  # noqa: BLE001 - warm-up is best-effort
            print(
                f"[warm-failed] {q.name}: {str(e)[:200]}", file=sys.stderr
            )
            return False
        finally:
            release_checkpoints(spark)

    for name in names:
        q = qs[name]
        warmed = _warm(q)
        clock.start()
        t0 = time.time()
        if name in spark_only:
            try:
                # time FULL materialization (noop sink), never count():
                # count() lets Catalyst prune every projected column,
                # so a narrow CPU-heavy query times as row counting —
                # measured 1.28 s count vs 15 s materialized on
                # lang_id at sf1 (r12 lesson; bench.py's docstring
                # warned about exactly this). rows come from an
                # untimed count afterwards.
                df = q.build(spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                spark_sec = round(time.time() - t0, 2)
                rows = df.count()
                results[name] = {
                    "status": "SPARK_ONLY_OK",
                    "rows": rows,
                    "sec": spark_sec,
                    "spark_sec": spark_sec,
                    "noise": clock.block(),
                    "warmed": warmed,
                }
                print(f"[spark-only] {name}: {rows} rows in {spark_sec}s")
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                results[name] = {"status": "SPARK_ERROR", "error": str(e)[:500]}
                print(f"[FAIL-spark] {name}: {str(e)[:300]}")
            release_checkpoints(spark)
            continue
        if name in count_only:
            try:
                rows = q.build(spark, args.sf_dir).count()
                spark_sec = round(time.time() - t0, 2)
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                results[name] = {"status": "SPARK_ERROR", "error": str(e)[:500]}
                print(f"[FAIL-spark] {name}: {str(e)[:300]}")
                release_checkpoints(spark)
                continue
            t_o = time.time()
            try:
                o_rows = con.execute(
                    f"SELECT COUNT(*) FROM ({q.oracle})"
                ).fetchone()[0]
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                results[name] = {"status": "ORACLE_ERROR", "error": str(e)[:500]}
                print(f"[FAIL-oracle] {name}: {str(e)[:300]}")
                release_checkpoints(spark)
                continue
            status = (
                "COUNT_OK"
                if rows == o_rows
                else f"COUNT_MISMATCH spark={rows} oracle={o_rows}"
            )
            results[name] = {
                "status": status,
                "rows": rows,
                "sec": round(time.time() - t0, 2),
                "spark_sec": spark_sec,
                "oracle_sec": round(time.time() - t_o, 2),
                "noise": clock.block(),
                "warmed": warmed,
            }
            if status != "COUNT_OK":
                failures.append(name)
                print(f"[FAIL] {name}: {status}")
            else:
                print(f"[count-ok] {name}: {rows} rows, spark {spark_sec}s")
            release_checkpoints(spark)
            continue
        try:
            sdf = q.build(spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "SPARK_ERROR", "error": str(e)[:500]}
            print(f"[FAIL-spark] {name}: {str(e)[:300]}")
            release_checkpoints(spark)
            continue
        # engine time vs oracle time recorded separately: the scaling
        # gate (tools/bench_trend.py) judges the SPARK side; several
        # oracles are documented quadratic (pareto NOT-EXISTS, pair
        # joins) and would otherwise dominate "sec" at large SF.
        spark_sec = round(time.time() - t0, 2)
        release_checkpoints(spark)
        if q.oracle is None:
            results[name] = {
                "status": "ROWS_ONLY",
                "rows": len(sdf),
                "sec": spark_sec,
                "spark_sec": spark_sec,
                "noise": clock.block(),
                "warmed": warmed,
            }
            print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        t_o = time.time()
        try:
            odf = con.execute(q.oracle).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "ORACLE_ERROR", "error": str(e)[:500]}
            print(f"[FAIL-oracle] {name}: {str(e)[:300]}")
            continue
        try:
            s_n, o_n = normalize(sdf), normalize(odf)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "NORMALIZE_ERROR", "error": str(e)[:500]}
            print(f"[FAIL-norm] {name}: {str(e)[:300]}")
            continue
        status = compare(s_n, o_n)
        results[name] = {
            "status": status,
            "rows": len(s_n),
            "sec": round(time.time() - t0, 2),
            "spark_sec": spark_sec,
            "oracle_sec": round(time.time() - t_o, 2),
            "noise": clock.block(),
            "warmed": warmed,
        }
        if status != "OK":
            failures.append(name)
            print(f"[FAIL] {name}: {status}")
        else:
            print(f"[ok] {name}: {len(s_n)} rows in {results[name]['sec']}s")

    print(json.dumps({"total": len(names), "failed": failures}))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(
                {
                    "sf_dir": args.sf_dir,
                    "warm_dir": args.warm_dir or None,
                    "total": len(names),
                    "failed": failures,
                    "results": results,
                },
                f,
                indent=1,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
