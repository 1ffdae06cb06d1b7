"""ntile_exact (operators/quantiles.py) must reproduce Spark's own
ntile() over the same total order — on uniform, skewed, tied, and
remainder-heavy inputs — without ever planning a global window."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.operators.quantiles import (
    global_row_number,
    grouped_rank_stats,
    ntile_exact,
    ntile_exact_grouped,
    running_totals,
)


def _reference(df, keys, k):
    w = Window.orderBy(*keys)  # fine at test scale
    return df.withColumn("bucket", F.ntile(k).over(w))


def _assert_matches(df, keys, k):
    got = ntile_exact(df, keys, k).select(*keys, "bucket")
    want = _reference(df, keys, k).select(*keys, "bucket")
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


@pytest.mark.parametrize("k", [3, 7, 10])
def test_uniform_values_match_spark_ntile(spark, k):
    rows = [(float(i % 97), i) for i in range(500)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(8)
    _assert_matches(df, ["v", "id"], k)


def test_heavy_value_skew_matches(spark):
    # 80% of rows share one hot value -> one wide width_bucket range
    rows = [(1.0 if i % 5 else float(i), i) for i in range(400)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(8)
    _assert_matches(df, ["v", "id"], 10)


def test_remainder_distribution_first_buckets_bigger(spark):
    rows = [(float(i), i) for i in range(23)]  # 23 = 2*10 + 3
    df = spark.createDataFrame(rows, "v double, id long")
    sizes = (
        ntile_exact(df, ["v", "id"], 10)
        .groupBy("bucket").count().orderBy("bucket").collect()
    )
    assert [r["count"] for r in sizes] == [3, 3, 3, 2, 2, 2, 2, 2, 2, 2]


def test_constant_column_degenerates_gracefully(spark):
    rows = [(5.0, i) for i in range(30)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(4)
    _assert_matches(df, ["v", "id"], 10)


def test_no_single_task_window_in_plan(spark):
    rows = [(float(i), i) for i in range(100)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(4)
    out = ntile_exact(df, ["v", "id"], 10)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # a global (unpartitioned) window would plan Exchange SinglePartition
    assert "SinglePartition" not in plan


def test_null_lead_key_rejected(spark):
    rows = [(None, 1), (2.0, 2), (3.0, 3)]
    df = spark.createDataFrame(rows, "v double, id long")
    with pytest.raises(ValueError, match="NULL values in lead key"):
        ntile_exact(df, ["v", "id"], 2)


def test_property_random_data_matches_spark_ntile(spark):
    """Hypothesis-style randomized check (fixed seeds, no Spark-in-
    hypothesis overhead): any value distribution + any k must match
    Spark's ntile exactly."""
    import random

    for seed in range(6):
        rng = random.Random(seed)
        n = rng.randint(1, 300)
        k = rng.randint(2, 12)
        dup_pool = [rng.uniform(-1e6, 1e6) for _ in range(max(n // 10, 1))]
        rows = [
            (rng.choice(dup_pool) if rng.random() < 0.5
             else rng.uniform(-1e6, 1e6), i)
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "v double, id long").repartition(5)
        _assert_matches(df, ["v", "id"], k)


def test_nan_lead_key_rejected(spark):
    """width_bucket(NaN) -> NULL pid would silently DROP rows through
    the offsets inner join; refuse NaN like NULL instead."""
    import pytest

    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 3.0)], "id long, x double"
    )
    with pytest.raises(ValueError, match="NaN"):
        ntile_exact(df, ["x", "id"], 2, out_col="b").collect()


# ---- global_row_number / running_totals (shared machinery) ----


def test_global_row_number_matches_spark_window(spark):
    rows = [(float(i % 53), i) for i in range(400)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(8)
    got = global_row_number(df, ["v", "id"], out_col="rn")
    want = df.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    assert got.select("v", "id", "rn").subtract(want.select("v", "id", "rn")).count() == 0
    assert want.select("v", "id", "rn").subtract(got.select("v", "id", "rn")).count() == 0


def test_global_row_number_no_single_partition_exchange(spark):
    rows = [(float(i), i) for i in range(100)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(4)
    out = global_row_number(df, ["v", "id"])
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan


def test_running_totals_matches_global_window(spark):
    import random

    rng = random.Random(7)
    rows = [(float(rng.randint(0, 40)), i, rng.randint(1, 9), rng.randint(0, 5))
            for i in range(300)]
    df = spark.createDataFrame(rows, "v double, id long, a long, b long")
    df = df.repartition(6)
    got = running_totals(df, ["v", "id"], ["a", "b"])
    w = (
        Window.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("cum_a", F.sum("a").over(w)).withColumn(
        "cum_b", F.sum("b").over(w)
    )
    cols = ["v", "id", "cum_a", "cum_b"]
    assert got.select(*cols).subtract(want.select(*cols)).count() == 0
    assert want.select(*cols).subtract(got.select(*cols)).count() == 0


def test_running_totals_decimal_values_exact(spark):
    rows = [(float(i % 11), i, f"{i}.25") for i in range(50)]
    df = spark.createDataFrame(rows, "v double, id long, m string")
    df = df.select("v", "id", F.col("m").cast("decimal(10,2)").alias("m"))
    got = running_totals(df, ["v", "id"], ["m"])
    w = (
        Window.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("cum_m", F.sum("m").over(w))
    a = {(r["id"]): r["cum_m"] for r in got.collect()}
    b = {(r["id"]): r["cum_m"] for r in want.collect()}
    assert a == b


def test_running_totals_empty_input(spark):
    df = spark.createDataFrame([], "v double, id long, a long")
    out = running_totals(df, ["v", "id"], ["a"])
    assert out.count() == 0
    assert "cum_a" in out.columns


# ---- bucket balance under heavy-tailed lead keys (ADVICE r4) ----


def _max_bucket_frac(df, keys):
    from museum_image_etl_gridfs_spark.operators.quantiles import (
        _with_range_pid,
    )

    t = _with_range_pid(df, keys, 4)
    sizes = [r["count"] for r in t.groupBy("__pid").count().collect()]
    return max(sizes) / sum(sizes)


def test_zipf_vocab_rank_is_balanced_and_exact(spark):
    """The simjoin vocabulary shape: ~90% of tokens have document
    frequency 1 (Zipf). Value-range bucketing put the whole df=1 mass
    in ONE task; the hot-value sub-split must spread it by the token
    string while keeping the produced rank the exact total order."""
    rows = [(1, f"tok_{i:06d}") for i in range(1800)] + [
        (2 + i % 40, f"hot_{i:04d}") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "df long, tok string").repartition(8)
    assert _max_bucket_frac(df, ["df", "tok"]) < 0.25
    got = global_row_number(df, ["df", "tok"], out_col="rn")
    want = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("df", "tok"))
    )
    cols = ["df", "tok", "rn"]
    assert got.select(*cols).subtract(want.select(*cols)).count() == 0
    assert want.select(*cols).subtract(got.select(*cols)).count() == 0


def test_dominant_numeric_value_is_balanced_and_exact(spark):
    """90% of rows share one lead value with a numeric tiebreaker —
    the sub-split keys on the second column's double encoding."""
    rows = [(5.0 if i % 10 else float(i), i) for i in range(3000)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(8)
    assert _max_bucket_frac(df, ["v", "id"]) < 0.25
    _assert_matches(df, ["v", "id"], 10)


def test_lognormal_tail_is_balanced(spark):
    """Continuous skew (no single hot value): count-balanced quantile
    split points must bound every bucket even when 99% of the VALUE
    RANGE holds 1% of the rows."""
    import math
    import random

    rng = random.Random(3)
    rows = [(math.exp(rng.gauss(0.0, 2.0)), i) for i in range(4000)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(8)
    assert _max_bucket_frac(df, ["v", "id"]) < 0.15


def test_hot_value_without_second_key_stays_exact(spark):
    """No tiebreaker -> the hot value cannot be sub-split; it must
    degrade to one (documented) wide bucket, never to wrong totals."""
    rows = [(7.0 if i % 4 else float(i % 13),) for i in range(200)]
    df = spark.createDataFrame(rows, "v double").repartition(4)
    got = running_totals(
        df.withColumn("one", F.lit(1)), ["v"], ["one"]
    )
    # ranks within the tied value are arbitrary but the cumulative
    # count at each distinct value boundary is order-determined
    import collections

    per_v = collections.Counter(r["v"] for r in df.collect())
    boundary = {}
    acc = 0
    for v in sorted(per_v):
        acc += per_v[v]
        boundary[v] = acc
    got_max = (
        got.groupBy("v").agg(F.max("cum_one").alias("m")).collect()
    )
    assert {r["v"]: r["m"] for r in got_max} == boundary


# ---- ntile_exact_grouped (per-group exact ntile, VERDICT r8 #1) ----


def _assert_grouped_matches(df, gkeys, okeys, k):
    got = ntile_exact_grouped(df, gkeys, okeys, k).select(
        *gkeys, *okeys, "bucket"
    )
    w = Window.partitionBy(*gkeys).orderBy(*okeys)
    want = df.withColumn("bucket", F.ntile(k).over(w)).select(
        *gkeys, *okeys, "bucket"
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


@pytest.mark.parametrize("k", [3, 7])
def test_grouped_matches_spark_partitioned_ntile(spark, k):
    rows = [
        (f"g{i % 5}", float((i * 31) % 97), i) for i in range(600)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    _assert_grouped_matches(df.repartition(8), ["g"], ["v", "id"], k)


def test_grouped_skewed_group_sizes_and_ties(spark):
    """One dominant group (90% of rows) + heavy value ties: the exact
    per-group remainder arithmetic must hold for every group size."""
    rows = [
        ("big" if i % 10 else f"small{i % 7}", float(i % 13), i)
        for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    _assert_grouped_matches(df.repartition(8), ["g"], ["v", "id"], 3)


def test_grouped_remainder_first_buckets_bigger(spark):
    # group a: 7 rows = 2*3+1 -> [3,2,2]; group b: 5 rows -> [2,2,1]
    rows = [("a", float(i), i) for i in range(7)] + [
        ("b", float(i), 100 + i) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    out = ntile_exact_grouped(df, ["g"], ["v", "id"], 3)
    sizes = {
        (r["g"], r["bucket"]): r["count"]
        for r in out.groupBy("g", "bucket").count().collect()
    }
    assert sizes == {
        ("a", 1): 3, ("a", 2): 2, ("a", 3): 2,
        ("b", 1): 2, ("b", 2): 2, ("b", 3): 1,
    }


def test_grouped_no_single_task_window_in_plan(spark):
    rows = [(f"g{i % 3}", float(i), i) for i in range(200)]
    df = spark.createDataFrame(
        rows, "g string, v double, id long"
    ).repartition(4)
    out = ntile_exact_grouped(df, ["g"], ["v", "id"], 3)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan


def test_grouped_empty_input(spark):
    df = spark.createDataFrame([], "g string, v double, id long")
    out = ntile_exact_grouped(df, ["g"], ["v", "id"], 3)
    assert out.count() == 0
    assert "bucket" in out.columns


def test_ccnet_query_has_no_per_lang_sort_window(spark, sf_dir):
    """VERDICT r8 #1 pin: ccnet_perplexity_buckets must never plan a
    per-language global sort window (ntile OVER (PARTITION BY lang))
    — the grouped-quantile machinery with per-(lang, range-bucket)
    windows is the committed shape."""
    from museum_image_etl_gridfs_spark.plans.registry import all_queries

    df = all_queries()["ccnet_perplexity_buckets"].build(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan
    assert "ntile(" not in plan  # bucket arithmetic, not a window ntile


def test_running_totals_rejects_partial_nulls(spark):
    """ADVICE r3: a value column with SOME NULLs used to pass the
    bucket-sum NULL check but yield NULL running totals for rows
    before a bucket's first non-NULL — refuse loudly instead."""
    import pytest

    df = spark.createDataFrame(
        [(i, None if i == 7 else i * 10) for i in range(20)],
        "id long, a long",
    )
    with pytest.raises(ValueError, match="NULL values in 'a'"):
        running_totals(df, ["id"], ["a"]).collect()


# ---- grouped_rank_stats (per-group exact rank family, VERDICT r9 #1) ----


def _assert_rank_stats_match(df, gkeys, okeys):
    got = grouped_rank_stats(
        df,
        gkeys,
        okeys,
        row_number_col="rn",
        rank_col="rk",
        percent_rank_col="pr",
        cume_dist_col="cd",
        n_col="n",
    ).select(*gkeys, *okeys, "rn", "rk", "pr", "cd", "n")
    w = Window.partitionBy(*gkeys).orderBy(*okeys)
    want = df.select(
        *gkeys,
        *okeys,
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rk"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.count(F.lit(1)).over(Window.partitionBy(*gkeys)).alias("n"),
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


def test_rank_stats_total_order_matches_spark_windows(spark):
    rows = [(f"g{i % 5}", float((i * 31) % 97), i) for i in range(600)]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    _assert_rank_stats_match(df.repartition(8), ["g"], ["v", "id"])


def test_rank_stats_heavy_ties_match_ansi_semantics(spark):
    """Ties on the ORDER key (no tie-break column): rank must be the
    min position of the tie group, cume_dist the max/n, and percent
    rank the exact (rank-1)/(n-1) — with ties never crossing range
    buckets. row_number is non-deterministic under ties, so only the
    tie-insensitive stats are compared."""
    rows = [
        ("big" if i % 10 else f"small{i % 7}", float(i % 13), i)
        for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    got = grouped_rank_stats(
        df.repartition(8),
        ["g"],
        ["v"],
        rank_col="rk",
        percent_rank_col="pr",
        cume_dist_col="cd",
    ).select("g", "v", "id", "rk", "pr", "cd")
    w = Window.partitionBy("g").orderBy("v")
    want = df.select(
        "g",
        "v",
        "id",
        F.rank().over(w).cast("bigint").alias("rk"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


def test_rank_stats_single_row_groups(spark):
    # n == 1 -> percent_rank 0.0 (the ANSI 0/0 convention), cume_dist 1.0
    rows = [(f"g{i}", float(i), i) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    out = grouped_rank_stats(
        df, ["g"], ["v", "id"], percent_rank_col="pr", cume_dist_col="cd"
    )
    for r in out.collect():
        assert r["pr"] == 0.0 and r["cd"] == 1.0


def test_rank_stats_empty_input_and_no_outputs(spark):
    df = spark.createDataFrame([], "g string, v double, id long")
    out = grouped_rank_stats(df, ["g"], ["v", "id"], percent_rank_col="pr")
    assert out.count() == 0 and "pr" in out.columns
    with pytest.raises(ValueError, match="no output column"):
        grouped_rank_stats(df, ["g"], ["v", "id"])


def test_rank_stats_no_single_task_window_in_plan(spark):
    rows = [(f"g{i % 3}", float(i), i) for i in range(200)]
    df = spark.createDataFrame(
        rows, "g string, v double, id long"
    ).repartition(4)
    out = grouped_rank_stats(
        df, ["g"], ["v", "id"], percent_rank_col="pr", cume_dist_col="cd"
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan


@pytest.mark.parametrize(
    "name", ["length_outliers_by_lang", "acctbal_distribution_ranks"]
)
def test_rank_queries_have_no_per_group_sort_window(spark, sf_dir, name):
    """VERDICT r9 #1 pin: the two corpus-sized percent_rank/cume_dist
    queries must never plan a per-group global sort window (the
    dominant group would funnel through one task) — grouped_rank_stats
    with per-(group, range-bucket) windows is the committed shape."""
    from museum_image_etl_gridfs_spark.plans.registry import all_queries

    df = all_queries()[name].build(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan
    assert "percent_rank(" not in plan
    assert "cume_dist(" not in plan


# ---- running_totals_grouped (per-group running sums, r10) ----


def test_grouped_running_totals_match_spark_window(spark):
    from museum_image_etl_gridfs_spark.operators.quantiles import (
        running_totals_grouped,
    )

    rows = [
        ("big" if i % 10 else f"small{i % 7}", i, (i * 13) % 29)
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long").repartition(8)
    got = {
        (r["g"], r["id"]): r["cum_v"]
        for r in running_totals_grouped(df, ["g"], ["id"], ["v"]).collect()
    }
    # reference running sums computed in Python (subtract() against a
    # same-lineage window frame trips a Spark 4 analyzer attribute-
    # dedup bug over the checkpointed branch; value compare is exact)
    import collections

    acc: dict = collections.defaultdict(int)
    want = {}
    for g, i, v in sorted(rows, key=lambda r: (r[0], r[1])):
        acc[g] += v
        want[(g, i)] = acc[g]
    assert got == want


def test_grouped_running_totals_no_single_task_and_null_guard(spark):
    from museum_image_etl_gridfs_spark.operators.quantiles import (
        running_totals_grouped,
    )

    rows = [(f"g{i % 3}", i, i * 2) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, id long, v long").repartition(4)
    out = running_totals_grouped(df, ["g"], ["id"], ["v"])
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan

    bad = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, None)], "g string, id long, v long"
    )
    with pytest.raises(ValueError, match="NULL values in 'v'"):
        running_totals_grouped(bad, ["g"], ["id"], ["v"])


def test_grouped_ops_single_unique_order_key_regression(spark):
    """r10 regression pin: a SINGLE unique numeric order key used to
    die with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — Catalyst constraint
    inference pushed a filter into the deduplicated self-join branch
    whose HOF lambda still captured the left side's attribute. The
    eager offsets checkpoint severs that lineage (quantiles.py)."""
    from museum_image_etl_gridfs_spark.operators.quantiles import (
        running_totals_grouped,
    )

    rows = [
        ("big" if i % 10 else f"small{i % 7}", i, (i * 13) % 29)
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long").repartition(8)
    assert ntile_exact_grouped(df, ["g"], ["id"], 3).count() == 800
    assert grouped_rank_stats(df, ["g"], ["id"], rank_col="rk").count() == 800
    assert running_totals_grouped(df, ["g"], ["id"], ["v"]).count() == 800


# ---- NULL group keys are their own partition (ADVICE r10 medium) ----


def test_rank_stats_null_group_keys_kept(spark):
    """Rows whose GROUP key is NULL must be ranked as their own
    partition — ANSI window semantics (and the DuckDB oracles) keep a
    NULL partition key; a plain-equality offsets join would silently
    DROP those rows (the fix is the null-safe offsets join in
    quantiles._nullsafe_offsets_join)."""
    rows = [
        (None if i % 4 == 0 else f"g{i % 3}", float((i * 7) % 23), i)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    assert (
        grouped_rank_stats(
            df.repartition(4), ["g"], ["v", "id"], rank_col="rk"
        ).count()
        == 200
    )
    _assert_rank_stats_match(df.repartition(4), ["g"], ["v", "id"])


def test_grouped_ntile_null_group_keys_kept(spark):
    rows = [
        (None if i % 5 == 0 else f"g{i % 3}", float(i % 17), i)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    _assert_grouped_matches(df.repartition(4), ["g"], ["v", "id"], 3)


def test_grouped_running_totals_null_group_keys_kept(spark):
    from museum_image_etl_gridfs_spark.operators.quantiles import (
        running_totals_grouped,
    )

    rows = [
        (None if i % 4 == 0 else f"g{i % 3}", i, (i * 13) % 29)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long").repartition(4)
    got = {
        (r["g"], r["id"]): r["cum_v"]
        for r in running_totals_grouped(df, ["g"], ["id"], ["v"]).collect()
    }
    import collections

    acc: dict = collections.defaultdict(int)
    want = {}
    for g, i, v in sorted(rows, key=lambda r: (r[0] or "", r[1])):
        acc[g] += v
        want[(g, i)] = acc[g]
    assert got == want


# ---------------------------------------------------------------------------
# grouped_exact_percentiles: bit-exact vs Spark's Percentile aggregate
# ---------------------------------------------------------------------------


def _assert_percentiles_match(spark, df, gks, col, ps):
    """The operator must reproduce F.percentile BIT-exactly (same
    interpolation arithmetic) — equality on raw doubles, no round()."""
    from museum_image_etl_gridfs_spark.operators.quantiles import (
        grouped_exact_percentiles,
    )

    outs = [f"p{i}" for i in range(len(ps))]
    got = {
        tuple(r[g] for g in gks): [r[o] for o in outs]
        for r in grouped_exact_percentiles(
            df, gks, col, ps, out_cols=outs
        ).collect()
    }
    want = {
        tuple(r[g] for g in gks): [r[o] for o in outs]
        for r in df.groupBy(*gks)
        .agg(
            *[
                F.percentile(col, F.lit(p)).alias(o)
                for p, o in zip(ps, outs)
            ]
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])


def test_grouped_percentile_median_matches_spark_exactly(spark):
    # values chosen so (hi-pos)*lo + (pos-lo)*hi differs in the last
    # ulp from lo + (hi-lo)*frac — catches interpolation-order drift
    rows = [(f"g{i % 3}", 0.1 + 0.2 * ((i * 7) % 23), i) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, v double, id long").repartition(5)
    _assert_percentiles_match(spark, df.select("g", "v"), ["g"], "v", [0.5])


def test_grouped_percentile_multi_p_and_ties(spark):
    # integral values with heavy ties (the l_quantity shape) + fences
    rows = [(f"f{i % 2}", float((i * 13) % 7)) for i in range(301)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(4)
    _assert_percentiles_match(
        spark, df, ["g"], "v", [0.0, 0.05, 0.5, 0.95, 1.0]
    )


def test_grouped_percentile_equal_neighbours_are_not_interpolated(spark):
    # p=0.1 over 3 rows sits between two equal 0.1s: Percentile returns
    # the key itself, while 0.8*0.1 + 0.2*0.1 is 0.10000000000000002
    df = spark.createDataFrame(
        [("a", 0.1), ("a", 0.1), ("a", 5.0), ("b", 3.1), ("b", 3.1)],
        "g string, v double",
    )
    _assert_percentiles_match(spark, df, ["g"], "v", [0.1, 0.9])


def test_grouped_percentile_single_row_groups(spark):
    df = spark.createDataFrame(
        [("a", 3.7), ("b", 1.1)], "g string, v double"
    )
    _assert_percentiles_match(spark, df, ["g"], "v", [0.25, 0.5])


def test_grouped_percentile_no_value_buffer_in_plan(spark):
    """The plan must contain no Percentile aggregate (the per-group
    value buffer the operator exists to remove)."""
    from museum_image_etl_gridfs_spark.operators.quantiles import (
        grouped_exact_percentiles,
    )

    rows = [(f"g{i % 3}", float(i % 50)) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(4)
    out = grouped_exact_percentiles(df, ["g"], "v", [0.5], out_cols=["m"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan.lower()


def _nan_safe(x):
    """NaN != NaN: compare NaN results by name."""
    return "NaN" if isinstance(x, float) and math.isnan(x) else x


def _auto_gate_inputs():
    """(case, rows): a plain input, then a NULL value, a NaN value (next
    to +inf), an all-NULL group, and empty input."""
    base = [(f"g{i % 3}", 0.1 + 0.2 * ((i * 11) % 19)) for i in range(400)]
    yield "plain", base
    yield "null_value", base[:7] + [("g1", None)] + base[8:]
    yield "nan_value", base[:7] + [("g1", float("nan")), ("g2", float("inf"))] + base[9:]
    yield "all_null_group", base + [("g_null", None)] * 5
    yield "empty", []


def test_grouped_percentiles_auto_gate_paths_agree(spark):
    """The size gate must be output-invariant: buffer path (Percentile
    aggregate) and machinery path produce identical raw doubles — also
    on a NULL value, a NaN value, an all-NULL group and empty input —
    and the gate actually switches plans."""
    from museum_image_etl_gridfs_spark import partitioning as P
    from museum_image_etl_gridfs_spark.operators import quantiles as Q

    def run(df):
        return {
            r["g"]: tuple(_nan_safe(r[c]) for c in "abc")
            for r in Q.grouped_percentiles_auto(
                df, ["g"], "v", [0.25, 0.9, 1.0], out_cols=["a", "b", "c"]
            ).collect()
        }

    def plan(df):
        return Q.grouped_percentiles_auto(
            df, ["g"], "v", [0.5], out_cols=["m"]
        )._jdf.queryExecution().executedPlan().toString().lower()

    for case, rows in _auto_gate_inputs():
        df = spark.createDataFrame(rows, "g string, v double").repartition(4)
        # a createDataFrame source is a LogicalRDD: Catalyst estimates
        # it Long.Max (no stats), so the DEFAULT gate conservatively
        # picks the bounded machinery — force each side explicitly
        mp = pytest.MonkeyPatch()
        try:
            mp.setattr(P, "PCTL_BUFFER_MAX_BYTES", 1 << 63)
            fast = run(df)
            assert "percentile" in plan(df)  # below gate: buffer path

            mp.setattr(P, "PCTL_BUFFER_MAX_BYTES", -1)
            slow = run(df)
            assert "percentile" not in plan(df)  # above gate
        finally:
            mp.undo()
        assert fast == slow, case
        if case == "all_null_group":
            assert fast["g_null"] == (None, None, None)
        elif case == "nan_value":
            # NaN orders above every number, +inf included
            assert fast["g1"][2] == "NaN" and fast["g2"][2] == math.inf
        elif case == "empty":
            assert fast == {}
