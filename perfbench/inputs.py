"""Seeded benchmark inputs and their DuckDB oracle digests.

Every workload reads the sf0.1 fixture shipped in ``perfbench/data/sf0.1``
with each table's rows permuted by the seed. A permutation keeps every
table's multiset of rows, so a query's oracle digest does not depend on
the seed and is computed once; a Spark result that changes with the
seed is a row-order defect and is counted as a wrong result.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIR = os.path.join(HERE, "data", "sf0.1")
CACHE_DIR = os.path.join(HERE, ".cache")

sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import check_correctness  # noqa: E402  (tools/, for normalize/value_hash)

from museum_image_etl_gridfs_spark.catalog import TABLES  # noqa: E402

#: seeded input directories kept; older ones are evicted so a long
#: series of seeds cannot fill the disk.
KEEP_SEEDS = 3


def write_inputs(dst: str, seed: int, tables=TABLES) -> None:
    """Write every fixture table with its rows permuted by ``seed``.
    Same arguments, byte-identical files."""
    os.makedirs(dst, exist_ok=True)
    for i, table in enumerate(tables):
        tbl = pq.read_table(os.path.join(SOURCE_DIR, f"{table}.parquet"))
        perm = np.random.default_rng([seed, i]).permutation(tbl.num_rows)
        pq.write_table(tbl.take(pa.array(perm)), os.path.join(dst, f"{table}.parquet"))


def prepare_inputs(seed: int) -> str:
    """Directory of the seeded inputs, generated on first use."""
    base = os.path.join(CACHE_DIR, "inputs")
    dst = os.path.join(base, f"seed{seed}")
    if not os.path.isdir(dst):
        tmp = f"{dst}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_inputs(tmp, seed)
        os.rename(tmp, dst)
    os.utime(dst)
    seeds = sorted(
        (os.path.join(base, d) for d in os.listdir(base) if "." not in d),
        key=os.path.getmtime,
    )
    for old in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return dst


def result_digest(pdf) -> dict:
    """Columns, row count and order-insensitive value hash of a result,
    with the normalization tools/check_correctness.py applies."""
    norm = check_correctness.normalize(pdf)
    return {
        "columns": list(norm.columns),
        "rows": len(norm),
        "hash": check_correctness.value_hash(norm),
    }


def expected_digests(queries, names, inputs_dir: str) -> dict[str, dict]:
    """Oracle digest per query name, cached and keyed by the oracle SQL
    so an edited oracle is recomputed."""
    path = os.path.join(CACHE_DIR, "oracle.json")
    try:
        with open(path) as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    con = None
    out = {}
    for name in names:
        sql = queries[name].oracle
        sql_sha = hashlib.sha256(sql.encode()).hexdigest()
        hit = cache.get(name)
        if hit is None or hit["sql_sha"] != sql_sha:
            if con is None:
                con = check_correctness.duck_connection(inputs_dir)
            hit = cache[name] = {"sql_sha": sql_sha, **result_digest(con.execute(sql).df())}
        out[name] = hit
    if con is not None:
        con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return out
