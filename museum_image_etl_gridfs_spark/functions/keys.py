"""Portable deterministic hashing.

The reference generates per-row ObjectId surrogate keys
(``str(ObjectId())``, ``src/ingestion.py:60``); no query here needs
one — every table already carries an integer source key.

``portable_bucket`` is a multiplicative hash (Knuth's 2654435761)
expressible identically in Spark and ANSI SQL — used for the
train/val/test split (U4) and anywhere a seeded, scale-stable,
oracle-checkable pseudo-random assignment is needed. Unlike
``F.hash`` (Murmur3, Spark-specific) it cross-checks against DuckDB,
and unlike sklearn's permutation split (``src/transform_load.py:
132-133``) it is stable under repartitioning and data growth.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

KNUTH = 2654435761  # golden-ratio multiplier, fits results in int64 for keys < 2^32


def portable_bucket(key: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from an integer key.

    ``(key * 2654435761) mod 2^32 mod n`` — identical arithmetic in
    int64 on Spark and DuckDB (`pmod` guards negative keys).
    """
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(
        F.pmod(c.cast("long") * F.lit(KNUTH), F.lit(2**32)), F.lit(n_buckets)
    ).cast("int")


def portable_bucket_sql(key_sql: str, n_buckets: int = 100) -> str:
    """The DuckDB-side rendering of :func:`portable_bucket`."""
    return (
        f"CAST((((({key_sql}) * {KNUTH}) % 4294967296 + 4294967296) % 4294967296)"
        f" % {n_buckets} AS INTEGER)"
    )
