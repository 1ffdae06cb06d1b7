"""spread() must add an Exchange for under-split input and add NOTHING
for input that is already wide — the 100 TB posture pin for every
CPU-bound stage (sketching, scoring, codecs).

VERDICT r1 flagged unconditional ``repartition(defaultParallelism,
key)`` barriers: right on single-row-group fixtures, wrong at scale
(full-corpus shuffle + partition-count collapse). This test builds a
multi-partition input and asserts the barrier is gone, and a
1-partition input and asserts it appears.
"""

from __future__ import annotations

import json
import os

import pytest

from museum_image_etl_gridfs_spark import partitioning
from museum_image_etl_gridfs_spark.catalog import load
from museum_image_etl_gridfs_spark.operators.dedup import (
    minhash_near_duplicates,
)
from museum_image_etl_gridfs_spark.operators.lifecycle import release_checkpoints
from museum_image_etl_gridfs_spark.partitioning import spread
from museum_image_etl_gridfs_spark.plans import all_queries
from tools.check_correctness import compare, duck_connection, normalize
from tools.make_goldens import FULL_GOLDENS, FULL_SF_DIR, OUT_DIR, full


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_repartitions_narrow_input(spark):
    df = spark.range(100).coalesce(1)
    out = spread(df, "id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert "Exchange hashpartitioning" in _physical(out)


def test_spread_is_identity_on_wide_input(spark):
    wide = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism * 2, "id"
    )
    # materialize the repartitioned shape as the "scan" stand-in
    assert wide.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    out = spread(wide, "id")
    assert out is wide  # no extra node at all


def test_spread_explicit_target(spark):
    df = spark.range(10).coalesce(1)
    assert spread(df, "id", target=7).rdd.getNumPartitions() == 7


def test_minhash_has_no_barrier_on_presplit_input(spark, sf_dir, tmp_path):
    """End-to-end posture pin: write the documents fixture as many
    small files (the multi-row-group / many-split scan shape of a
    large table), and assert the minhash plan contains NO
    hashpartitioning Exchange on the raw text — the sketch stage must
    inherit the scan's splits."""
    n_target = spark.sparkContext.defaultParallelism
    src = load(spark, "documents", sf_dir).select("doc_id", "text")
    path = str(tmp_path / "docs_many_files")
    src.repartition(n_target, "doc_id").write.mode("overwrite").parquet(path)

    docs = spark.read.parquet(path)
    assert docs.rdd.getNumPartitions() >= n_target

    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", k=5, num_hashes=32, bands=8, min_jaccard=0.4
    )
    plan = _physical(pairs)
    # Invariants, not node counts (a benign change in how Spark renders
    # or re-reads the checkpoint must not fail this test):
    # - ONE repartition exchange: the deliberate (band, band_hash)
    #   bucket barrier; the fp-collapse and blocking windows reuse it
    #   (superset keys). No up-front repartition of (id, text) on a
    #   pre-split input: spread() saw a wide scan and added nothing, so
    #   the sketch inherited the scan's splits (pinned structurally: a
    #   REPARTITION_BY_NUM would survive into the checkpointed lineage;
    #   see the coalesce(1) branch below where it must appear).
    # - no MapInArrow: the sketch ran ONCE into the tracked
    #   localCheckpoint at build time, and every consumer reads its
    #   blocks — never a re-sketch.
    # - the signature column does not ride the band fan-out: the
    #   bucket exchange's input, from the exchange down to the
    #   checkpoint scan (which lists every column it holds), carries
    #   only (id, fp, band, band_hash).
    assert plan.count("REPARTITION_BY_COL") == 1
    assert "MapInArrow" not in plan
    fanout = plan[plan.index("REPARTITION_BY_COL") :]
    fanout = fanout[: fanout.index("Scan ExistingRDD")]
    assert "posexplode" in fanout
    assert "sig#" not in fanout
    # remaining exchanges are narrow: the star aggregate + join side,
    # the signature join, the block groupBy, and the final pair dedup
    assert plan.count("Exchange hashpartitioning") <= 6

    # on the single-file fixture the spread barrier IS present inside
    # the sketch's (checkpointed) lineage — the final plan cannot show
    # it, so pin it on the pre-checkpoint relation: a 1-partition
    # input must leave minhash's Python stage spread across cores
    one = load(spark, "documents", sf_dir).select("doc_id", "text").coalesce(1)
    spread_one = spread(one, "doc_id")
    assert "REPARTITION_BY_NUM" in _physical(spread_one)
    plan_one = _physical(
        minhash_near_duplicates(
            one, "doc_id", "text", k=5, num_hashes=32, bands=8, min_jaccard=0.4
        )
    )
    assert plan_one.count("REPARTITION_BY_COL") == 1


def test_minhash_signature_broadcast_counts_id_width(spark):
    """The signature gate's estimate includes the id column's bytes: 72
    docs with 1 MiB string ids make a signature relation above the
    64 MiB ceiling and get no broadcast hint, while the same docs with
    ``long`` ids (a few hundred bytes a row) are still broadcast."""
    from pyspark.sql import functions as F

    text = F.concat_ws(
        " ",
        F.lit("alpha beta gamma delta"),
        (F.col("id") % 5).cast("string"),
        F.lit("epsilon zeta eta"),
    )
    narrow = spark.range(72).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )
    wide = narrow.withColumn(
        "doc_id",
        F.concat(F.repeat(F.lit("d"), 1 << 20), F.col("doc_id").cast("string")),
    )

    def hinted(docs) -> bool:
        try:
            pairs = minhash_near_duplicates(
                docs, "doc_id", "text", k=3, num_hashes=32, bands=8
            )
            plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        finally:
            release_checkpoints(spark)
        # the signature join is the query's only hinted join
        return "strategy=broadcast" in plan

    assert 72 << 20 > partitioning.SIG_BROADCAST_MAX_BYTES
    assert hinted(narrow)
    assert not hinted(wide)


# ---------------------------------------------------------------------------
# The scale policy's one predicate, forced to each side
# ---------------------------------------------------------------------------

#: every registry query that reaches a size gate (partitioning.py's
#: table): gram inventory, percentile path, vocabulary broadcast,
#: minhash signature broadcast
GATED = [
    "duplicated_spans",
    "substring_dedup_rewrite",
    "mad_outlier_quantities",
    "unigram_lm_scores",
    "ccnet_perplexity_buckets",
    "softdedup_weights",
    "doremi_domain_weights",
    "minhash_near_dups",
    "near_dup_clusters",
    "incremental_minhash_near_dups",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("side", ["small", "large"])
@pytest.mark.parametrize("name", GATED)
def test_gated_query_agrees_on_both_sides(
    spark, sf_dir, duck, monkeypatch, name, side
):
    """Force ``partitioning.is_small`` to one answer for every gate the
    query reaches, and require the oracle's answer (or, for the
    no-oracle queries, the committed full golden) on both sides. The
    recorded calls prove the forced predicate was actually consulted."""
    calls = []

    def forced(estimate, ceiling):
        calls.append((estimate, ceiling))
        return side == "small"

    monkeypatch.setattr(partitioning, "is_small", forced)
    q = all_queries()[name]
    if q.oracle is None:
        with open(os.path.join(OUT_DIR, f"{name}_full.json")) as f:
            want = json.load(f)
        try:
            got = full(q.build(spark, FULL_SF_DIR), FULL_GOLDENS[name])
        finally:
            release_checkpoints(spark)
        assert calls, f"{name}: no gate reached"
        assert got == want
        return
    try:
        got = q.build(spark, sf_dir).toPandas()
    finally:
        release_checkpoints(spark)
    assert calls, f"{name}: no gate reached"
    want = duck.execute(q.oracle).df()
    assert compare(normalize(got), normalize(want)) == "OK", name
