"""singer_target_clickhouse_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of
``Biron-BI/singer-target-clickhouse`` (a Singer target that materializes a
JSONL stream of SCHEMA/RECORD/DELETED_RECORD/STATE/ACTIVE_STREAMS messages as
ClickHouse tables) on idiomatic Spark:

- JSON Schema -> table-tree compilation (``schema.inspector``), mirroring the
  reference's ``src/jsonSchemaInspector.ts``.
- Vectorized record shredding with ``from_json`` + chained ``posexplode``
  (``shred``), mirroring ``src/RecordProcessor.ts`` semantics with zero
  per-row Python.
- ReplacingMergeTree-style latest-wins versioned upsert re-expressed as a
  bucket-pruned ``max_by`` aggregate MERGE over a snapshot-manifest Parquet lake
  (``lake``), mirroring ``src/StreamProcessor.ts`` + ClickHouse engine
  semantics.
- Schema evolution by diffing incoming SCHEMA messages against lake metadata
  (``schema.translator``), mirroring ``src/jsonSchemaTranslator.ts``.
- A batch/streaming driver with checkpointed exactly-once apply
  (``engine``, ``streaming.driver``), mirroring ``src/processStream.ts``.
"""

__version__ = "0.1.0"
