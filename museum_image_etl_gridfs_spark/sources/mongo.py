"""Optional MongoDB/GridFS connector edge (SURVEY.md S4/S5/S8/S9).

The reference's sinks are a metadata collection plus two GridFS
buckets (src/ingestion.py:63-86, src/transform_load.py:106-119). The
oracle-checked path in this engine models GridFS natively as Spark
tables (operators/gridfs.py); this module is the thin true-Mongo edge
for deployments that need actual ``mongod`` compatibility.

pymongo is NOT a dependency of this repo — every entry point is
import-gated and raises a clear error when the driver is absent. The
partition-writer functions are factored so tests can inject a fake
client and verify batching/ordering without a server.

Scale notes: one client per PARTITION (not per row — the reference
reconnects per script), ``insert_many`` batches instead of the
reference's per-row ``insert_one``/``update_one`` round-trips
(anti-pattern list, SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame

GRIDFS_CHUNK_SIZE = 261120  # 255 KB GridFS default

ClientFactory = Callable[[], object]


def _require_pymongo():
    try:
        import gridfs  # noqa: F401
        import pymongo  # noqa: F401
    except ImportError as e:  # pragma: no cover - env without pymongo
        raise ImportError(
            "pymongo/gridfs not installed; the pure-Spark GridFS tables "
            "(operators.gridfs) are the supported oracle path"
        ) from e


def default_client_factory(uri: str) -> ClientFactory:
    """Lazily-connecting pymongo client factory (one per partition)."""

    def factory():
        _require_pymongo()
        import pymongo

        return pymongo.MongoClient(uri)

    return factory


def write_documents_partition(
    rows: Iterable[dict],
    client_factory: ClientFactory,
    db_name: str,
    collection: str,
    batch_size: int = 1000,
) -> int:
    """Insert a partition of metadata documents with batched
    ``insert_many`` — the per-partition body of :func:`write_documents`.
    Returns rows written (for observability)."""
    client = client_factory()
    coll = client[db_name][collection]
    buf: list[dict] = []
    n = 0
    for row in rows:
        buf.append(dict(row))
        if len(buf) >= batch_size:
            coll.insert_many(buf)
            n += len(buf)
            buf.clear()
    if buf:
        coll.insert_many(buf)
        n += len(buf)
    return n


def write_gridfs_partition(
    rows: Iterable[tuple],
    client_factory: ClientFactory,
    db_name: str,
    bucket: str | None = None,
) -> int:
    """Write (filename, data, metadata) rows into a GridFS bucket —
    per-partition body of :func:`write_gridfs`."""
    client = client_factory()
    _require_pymongo()
    import gridfs

    db = client[db_name]
    fs = gridfs.GridFS(db, collection=bucket) if bucket else gridfs.GridFS(db)
    n = 0
    for filename, data, metadata in rows:
        fs.put(bytes(data), filename=filename, metadata=dict(metadata or {}))
        n += 1
    return n


def write_documents(
    df: DataFrame,
    uri: str,
    db_name: str,
    collection: str,
    batch_size: int = 1000,
) -> None:
    """S5 sink: append the DataFrame as documents (executor-side
    connections, batched inserts)."""
    factory = default_client_factory(uri)

    def handle(it: Iterator) -> None:
        write_documents_partition(
            (row.asDict() for row in it), factory, db_name, collection, batch_size
        )

    df.foreachPartition(handle)


def write_gridfs(
    df: DataFrame,
    uri: str,
    db_name: str,
    *,
    filename_col: str = "filename",
    data_col: str = "data",
    metadata_col: str | None = None,
    bucket: str | None = None,
) -> None:
    """S4 sink: stream binary rows into GridFS (driver chunks to the
    255 KB layout server-side)."""
    factory = default_client_factory(uri)

    def handle(it: Iterator) -> None:
        write_gridfs_partition(
            (
                (
                    row[filename_col],
                    row[data_col],
                    row[metadata_col] if metadata_col else None,
                )
                for row in it
            ),
            factory,
            db_name,
            bucket,
        )

    df.foreachPartition(handle)
