"""Self-tests of the benchmark; run with
``python3 -m pytest perfbench/test_perfbench.py``."""

from __future__ import annotations

import json
import os
import re

import pandas as pd
import pyarrow.parquet as pq
import pytest

import inputs
import run

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_tail_is_the_highest_sample_with_ten_beyond():
    assert run.tail([float(v) for v in range(100, 0, -1)]) == (90.0, 90.0, 100)
    value, pct, n = run.tail([float(v) for v in range(21)])
    assert (value, n) == (10.0, 21) and sum(v > value for v in range(21)) == 10
    assert pct == pytest.approx(100 * 11 / 21)
    # too few samples for any percentile with ten beyond: the minimum
    assert run.tail([3.0, 1.0, 2.0]) == (1.0, 0.0, 3)
    assert run.tail([float(v) for v in range(11)]) == (0.0, 0.0, 11)


def test_metric_names_and_units_match_benchmark_json():
    for name in [*run.E2E_UNITS, *run.LAYER_UNITS, *run.WORKLOADS]:
        assert NAME.fullmatch(name), name
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, units in (("end_to_end", run.E2E_UNITS), ("per_layer", run.LAYER_UNITS)):
        for m in spec[key]:
            assert units[m["name"]] == m["unit"], m
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert run.E2E_REPORTED == tuple(m["name"] for m in spec["end_to_end"])
    assert run.LAYER_REPORTED == tuple(m["name"] for m in spec["per_layer"])


class _FakeSession:
    class _jsparkSession:  # noqa: N801 - mimics the py4j attribute
        @staticmethod
        def hashCode():
            return 0


class _FakeFrame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 - DataFrame API
        return self.pdf


class _FakeQuery:
    def __init__(self, pdf):
        self.pdf = pdf

    def build(self, spark, sf_dir):
        return _FakeFrame(self.pdf)


def test_wrong_expected_hash_counts_in_error_rate():
    pdf = pd.DataFrame({"k": [2, 1, 3], "v": ["b", "a", None]})
    wl = run.Workload("noop", ("q",))
    expected = {"q": inputs.result_digest(pdf)}

    bench = run.Bench(wl, "unused", trace=False)
    bench.spark, bench.queries = _FakeSession(), {"q": _FakeQuery(pdf.iloc[::-1])}
    bench.check_pass(expected)
    assert bench.errors == [] and bench.attempted == 1

    expected["q"] = {**expected["q"], "hash": "0" * 64}
    bench.check_pass(expected)
    assert len(bench.errors) == 1 and bench.attempted == 2
    assert "wrong result: q" in bench.errors[0]


TABLES = ("region", "nation", "supplier", "customer", "orders")


def _sorted(path):
    df = pq.read_table(path).to_pandas()
    return df.sort_values(list(df.columns), ignore_index=True)


def test_seeded_inputs(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    inputs.write_inputs(a, seed=7, tables=TABLES)
    inputs.write_inputs(b, seed=7, tables=TABLES)
    inputs.write_inputs(c, seed=8, tables=TABLES)
    for t in TABLES:
        f = f"{t}.parquet"
        with open(os.path.join(a, f), "rb") as fa, open(os.path.join(b, f), "rb") as fb:
            assert fa.read() == fb.read(), t
        pd.testing.assert_frame_equal(_sorted(os.path.join(a, f)), _sorted(os.path.join(c, f)))
    got = pq.read_table(os.path.join(a, "orders.parquet")).to_pandas()
    other = pq.read_table(os.path.join(c, "orders.parquet")).to_pandas()
    assert not got["o_orderkey"].equals(other["o_orderkey"])  # the seed permutes rows
