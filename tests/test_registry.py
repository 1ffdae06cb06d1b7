"""Registry + driver-contract gate at sf0.001.

Every registered query builds a DataFrame with a well-formed schema and
is fully materialized (``toPandas()``; a ``count()`` would let Catalyst
prune the computed columns away). Every oracle-backed query is then
value-checked against its DuckDB oracle — schema, row count and
order-insensitive value hash, through the same ``compare`` that
tools/check_correctness.py applies at any scale factor. The no-oracle
queries' values are pinned by the full goldens in tests/test_goldens.py.
"""

from __future__ import annotations

import pytest

from tools.check_correctness import compare, duck_connection, normalize
from tools.make_goldens import FULL_GOLDENS
from museum_image_etl_gridfs_spark.operators.lifecycle import release_checkpoints
from museum_image_etl_gridfs_spark.plans import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


def test_registry_nonempty_and_named():
    assert len(QUERIES) >= 40
    for name, q in QUERIES.items():
        assert q.name == name and q.doc, name


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_builds_and_runs(spark, sf_dir, duck, name):
    q = QUERIES[name]
    try:
        df = q.build(spark, sf_dir)
        assert df.columns, name
        assert not any(c.startswith("__") for c in df.columns), name
        got = df.toPandas()
    finally:
        release_checkpoints(spark)
    if q.oracle is None:
        assert name in FULL_GOLDENS, f"{name}: no oracle and no full golden"
        return
    want = duck.execute(q.oracle).df()
    assert compare(normalize(got), normalize(want)) == "OK", name


def test_driver_entry_contract(spark):
    import __spark_entry__ as E

    qs = E.queries()
    osql = E.oracle_sql()
    assert set(osql) <= set(qs)
    df = E.entry(spark)
    assert df.count() > 0
