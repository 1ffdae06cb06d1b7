"""Source/sink connectors at the engine's edges.

- :mod:`.http` — the reference's REST ingestion (S1-S3) as
  batch-HTTP mapInPandas stages with an injectable transport.
- :mod:`.mongo` — optional pymongo/GridFS writers
  (foreachPartition), import-gated; the pure-Spark GridFS emulation
  in operators/gridfs.py is the oracle-checked path.
"""
