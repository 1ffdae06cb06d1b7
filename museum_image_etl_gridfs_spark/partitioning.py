"""Scale policy: every size-conditional choice the engine makes.

**Spread.** CPU-bound stages (sketching, hashing, vector scoring, codec
UDFs) need parallelism that tracks *cores*, not input bytes: a small
input — one parquet row group — arrives as a single partition and
would otherwise run the whole Python stage on one core, and AQE cannot
help because it coalesces by byte size.

The naive fix, an unconditional ``repartition(defaultParallelism,
key)``, is wrong at the other end of the scale: on a 100 TB input the
scan's own splits already provide ample parallelism, and the forced
exchange both shuffles the full corpus and *collapses* hundreds of
thousands of scan splits down to ``defaultParallelism`` multi-GB
tasks.

:func:`spread` resolves the tension: it repartitions only when the
input's current partition count is below the target, so fixtures get
their cores while large scans keep their splits untouched (the
Exchange disappears from the plan entirely — pinned by
``tests/test_plan_audit.py``).

**Size gates.** Four operators pick a plan by the size of a relation.
Each reads one estimate — :func:`plan_bytes` (Catalyst's plan-time
estimate, no job) or one aggregate job over an already checkpointed
relation (:func:`broadcast_if_small`) — and decides through
:func:`is_small`, the one predicate (an unknown estimate is large):

| gate | estimate | ceiling | small | large |
|---|---|---|---|---|
| gram inventory (``spans``) | ``plan_bytes`` of the source documents | ``INVENTORY_CKPT_MAX_BYTES`` 8 GiB | checkpoint the inventory once, read it twice | derive it twice (two linear, spill-free passes) |
| percentile path (``quantiles``) | ``plan_bytes`` of the input | ``PCTL_BUFFER_MAX_BYTES`` 4 GiB | one ``F.percentile`` aggregate | ``grouped_exact_percentiles`` (bounded state) |
| vocabulary broadcast (:func:`size_gated_broadcast`) | rows of the checkpointed relation | ``BROADCAST_MAX_ROWS`` 2M | broadcast hint | shuffle join on the key |
| minhash signatures (``dedup``) | rows × (8·num_hashes + 32) + id bytes of the checkpointed sketch | ``SIG_BROADCAST_MAX_BYTES`` 64 MiB | broadcast hint | shuffle join on the id |

The ceilings are the module constants below, read at call time.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(
    df: DataFrame, *key_cols: str, target: int | None = None
) -> DataFrame:
    """Spread ``df`` across cores for a CPU-bound stage, if under-split.

    Returns ``df`` unchanged when it already has >= ``target``
    partitions (default ``sparkContext.defaultParallelism``), else
    ``df.repartition(target, *key_cols)``. Key columns make the
    exchange deterministic by content rather than round-robin, which
    keeps downstream mapInPandas output stable across runs.
    """
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


#: inventory gate: source-size ceiling (bytes) under which
#: ``spans.duplicated_spans`` / ``substring_dedup_rewrite`` checkpoint
#: the gram inventory. The inventory is O(total tokens) rows × 3 longs —
#: roughly corpus-sized storage — so the checkpoint is a win exactly
#: while the executors can hold it (MEMORY_AND_DISK).
INVENTORY_CKPT_MAX_BYTES = 8 << 30

#: percentile gate: input-size ceiling (bytes) under which
#: ``quantiles.grouped_percentiles_auto`` uses Spark's own Percentile
#: aggregate. Measured at sf1 (60M lineitem rows): the buffer path runs
#: the whole MAD query in ~6 s where the rank machinery takes 17 s
#: (median) + 71 s (MAD) — the machinery pays an input checkpoint +
#: probe + counts + full within-bucket sort, while Percentile's buffer
#: is an OpenHashMap of value→count (O(distinct values) per group, NOT
#: O(rows) — tiny for integral domains like quantities). The machinery
#: is the escape hatch for CONTINUOUS value domains at corpus scale,
#: where that map degenerates to O(rows)/group.
PCTL_BUFFER_MAX_BYTES = 4 << 30

#: vocabulary broadcast gate: row ceiling for
#: :func:`size_gated_broadcast` — ~2M small rows (a (term, count) pair
#: is tens of bytes) keeps the broadcast well under typical executor
#: budgets while covering every real fixture/SF vocabulary.
BROADCAST_MAX_ROWS = 2_000_000

#: minhash signature gate: byte ceiling under which the per-doc
#: signature relation is broadcast into the post-candidate join. 64 MiB
#: matches the session's autoBroadcastJoinThreshold; the checkpointed
#: relation has no Catalyst stats, so the planner would never broadcast
#: it unaided.
SIG_BROADCAST_MAX_BYTES = 64 << 20


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate of ``df`` in bytes —
    plan-time, no job. ``None`` when the stats are unavailable."""
    try:
        return int(
            str(
                df._jdf.queryExecution()  # noqa: SLF001
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Py4JError:  # the JVM could not compute the plan's stats
        return None


def is_small(estimate: int | None, ceiling: int) -> bool:
    """The one predicate every size gate decides through: an estimate
    at most its ceiling is small; an unknown estimate is large (each
    gate's large side is the plan that is safe at any scale)."""
    return estimate is not None and estimate <= ceiling


def broadcast_if_small(
    df: DataFrame, ceiling: int, *, row_bytes: int | Column = 1
) -> DataFrame:
    """``F.broadcast(df)`` when ``sum(row_bytes)`` over ``df`` is at
    most ``ceiling``, else ``df`` unhinted (Catalyst plans a shuffle
    join).

    The estimate is one eager aggregate job, so ``df`` must read
    materialized blocks (a tracked localCheckpoint): the job then never
    re-runs the upstream, and every downstream consumer reads the same
    blocks. The default weight of 1 makes the estimate a row count.
    """
    est = df.agg(F.sum(F.lit(row_bytes))).first()[0]
    return F.broadcast(df) if is_small(est or 0, ceiling) else df


def size_gated_broadcast(df: DataFrame) -> DataFrame:
    """Broadcast ``df`` only when it is PROVABLY small.

    An unconditional ``F.broadcast(vocab)`` is the mirror-image scale
    bug to an unconditional ``repartition``: a corpus-derived
    dimension (vocabulary counts, per-entity aggregates) is tiny at
    fixture scale but can reach billions of rows at 100 TB, where the
    hint OOMs the driver/executors. This helper materializes ``df``
    once behind a tracked local checkpoint, counts it (an O(1)-result
    job over the checkpoint), and attaches the broadcast hint only up
    to ``BROADCAST_MAX_ROWS``; above, it returns the checkpointed
    relation unhinted so Catalyst plans a shuffle join on the key.

    The checkpoint does double duty: the gating count never re-runs
    the upstream aggregation, and every downstream consumer (the join
    AND any derived total) reads the materialized relation. Release
    via ``lifecycle.release_checkpoints`` after the caller's results
    are materialized, as usual.
    """
    from .operators.lifecycle import tracked_local_checkpoint

    return broadcast_if_small(
        tracked_local_checkpoint(df), BROADCAST_MAX_ROWS
    )
