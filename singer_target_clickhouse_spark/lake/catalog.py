"""Snapshot-manifest Parquet lake — an Iceberg-emulating table format.

The engine's one sink: a thin catalog of Parquet files plus JSON manifests
whose semantics mirror the Iceberg table operations the engine needs (atomic
snapshot commit, MERGE-style rewrite, ALTER add/widen/drop, rename).

Layout per table::

    <root>/tables/<name>/
        _pointer.json          -> {"current": "snap-000042.json"}   (os.replace = atomic)
        snap-<n>.json          -> TableSnapshot manifest
        data/<commit-uuid>/_bucket=<k>/part-*.parquet
    <root>/_txn/<uuid>.json    -> [[table, manifest], ...] while a multi-table
                                  commit flips its pointers

Scale design:

- **Hash-bucketed layout.** Every keyed table is bucketed by
  ``xxhash64(pk) % n_buckets``. A batch merge reads and rewrites only the
  buckets its keys touch; untouched buckets keep their existing file
  references in the new manifest (no data movement) — the same pruning a
  real Iceberg MERGE gets from partition/bucket transforms. Child tables
  bucket by their ``_root_*`` columns, so root and child co-bucket on the
  same key values and the orphan anti-join (reference D3) aligns
  bucket-for-bucket.
- **Atomic commits.** A snapshot is immutable; the pointer file flips with
  ``os.replace`` after all parquet is on disk. Readers resolve the pointer
  once and read a consistent file set. A commit of several tables names
  every new manifest in one intent file before it flips the pointers; a
  writer starting up rolls a left-over intent forward, so the tables move
  together. Replayed batches are gated on
  ``last_applied_seq`` recorded in the snapshot, which is the exactly-once
  mechanism (idempotent re-apply ≙ reference's STATE checkpoint barrier,
  ``processStream.ts:104-114``).
- **Schema evolution without rewrite.** ADD/DROP COLUMN only update the
  manifest schema; readers pass the manifest schema to the parquet scan so
  missing columns null-fill. MODIFY (widen) rewrites with a cast, like
  ClickHouse's mutation-on-ALTER (``ClickhouseConnection.ts:38-101``).

Retirement prefixes match the reference (``ClickhouseConnection.ts:23-24``).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

DROPPED_TABLE_PREFIX = "_dropped_"
ARCHIVED_TABLE_PREFIX = "_archived_"


class IncompatibleColumnModification(RuntimeError):
    """A MODIFY COLUMN would lose values (some existing value cannot be
    represented in the new type). The reference aborts the run when the
    ClickHouse ALTER mutation fails (``jsonSchemaTranslator.ts:190-209``,
    error collect + revert at ``ClickhouseConnection.ts:56-77``)."""


@dataclass
class TableSnapshot:
    """One immutable manifest version of a table."""

    snapshot_id: int
    #: Spark schema (json-serialized StructType) of the table.
    schema_json: dict
    #: ClickHouse-parity column descriptors [{name, type, is_in_sorting_key}]
    #: — the strings the schema-evolution diff compares (reference
    #: ``jsonSchemaTranslator.ts:117-144``).
    ch_columns: list[dict]
    #: Current (dedup) primary key column names; empty => append-only table.
    pk: list[str]
    #: ORDER BY / sort key (reference ``jsonSchemaTranslator.ts:39-53``).
    order_by: list[str]
    #: "replacing" (root with PK) or "plain" (append-only).
    engine: str
    #: Bucket column names (root: pk; child: _root_* columns).
    bucket_by: list[str]
    n_buckets: int
    #: bucket id (as str, JSON keys) -> list of table-relative parquet paths.
    bucket_files: dict[str, list[str]] = field(default_factory=dict)
    #: Exactly-once gate: highest source sequence already applied.
    last_applied_seq: int = -1
    #: Version offset for the current run: _ver = run_seq_base + seq + 1.
    run_seq_base: int = 0
    #: Identifier of the run that set run_seq_base.
    run_id: str = ""
    #: cleaning_column values already wiped during this run (reference
    #: ``StreamProcessor.ts:33``).
    cleaned_values: list = field(default_factory=list)

    @property
    def spark_schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    def files(self, buckets: Optional[list[int]] = None) -> list[str]:
        if buckets is None:
            return [f for fs in self.bucket_files.values() for f in fs]
        return [f for b in buckets for f in self.bucket_files.get(str(b), [])]

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "schema_json": self.schema_json,
            "ch_columns": self.ch_columns,
            "pk": self.pk,
            "order_by": self.order_by,
            "engine": self.engine,
            "bucket_by": self.bucket_by,
            "n_buckets": self.n_buckets,
            "bucket_files": self.bucket_files,
            "last_applied_seq": self.last_applied_seq,
            "run_seq_base": self.run_seq_base,
            "run_id": self.run_id,
            "cleaned_values": self.cleaned_values,
        }

    @staticmethod
    def from_json(d: dict) -> "TableSnapshot":
        return TableSnapshot(**d)


def write_json(path: str, obj) -> None:
    """Replace ``path`` by ``obj`` as JSON in one ``os.replace``."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


class LakeCatalog:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(self._tables_dir, exist_ok=True)
        os.makedirs(self._txn_dir, exist_ok=True)

    # ------------------------------------------------------------------ paths
    @property
    def _tables_dir(self) -> str:
        return os.path.join(self.root, "tables")

    @property
    def _txn_dir(self) -> str:
        return os.path.join(self.root, "_txn")

    def _table_dir(self, name: str) -> str:
        return os.path.join(self._tables_dir, name)

    # ---------------------------------------------------------------- catalog
    def list_tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self._tables_dir)
            if os.path.isdir(self._table_dir(d))
            and os.path.exists(os.path.join(self._table_dir(d), "_pointer.json"))
        )

    def table_exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._table_dir(name), "_pointer.json"))

    def snapshot(self, name: str) -> TableSnapshot:
        tdir = self._table_dir(name)
        with open(os.path.join(tdir, "_pointer.json")) as fh:
            manifest = json.load(fh)["current"]
        with open(os.path.join(tdir, manifest)) as fh:
            return TableSnapshot.from_json(json.load(fh))

    def create_table(
        self,
        name: str,
        schema: T.StructType,
        ch_columns: list[dict],
        pk: list[str],
        order_by: list[str],
        engine: str,
        bucket_by: list[str],
        n_buckets: int,
    ) -> TableSnapshot:
        if self.table_exists(name):
            raise ValueError(f"table {name} already exists")
        snap = TableSnapshot(
            snapshot_id=-1,  # the commit numbers it 0
            schema_json=schema.jsonValue(),
            ch_columns=ch_columns,
            pk=pk,
            order_by=order_by,
            engine=engine,
            bucket_by=bucket_by,
            n_buckets=n_buckets,
        )
        tdir = self._table_dir(name)
        os.makedirs(os.path.join(tdir, "data"), exist_ok=True)
        self.commit_snapshot({name: snap})
        return snap

    def drop_table(self, name: str) -> None:
        tdir = self._table_dir(name)
        if os.path.exists(tdir):
            shutil.rmtree(tdir)

    def rename_table(self, name: str, new_name: str) -> None:
        """≙ reference stream retirement rename (``ClickhouseConnection.ts:55-58``).
        File references are table-relative, so a directory move suffices."""
        os.rename(self._table_dir(name), self._table_dir(new_name))

    def commit_snapshot(self, snaps: dict[str, TableSnapshot]) -> None:
        """Publish the next snapshot of every table in ``snaps`` as one atomic
        step: write each manifest, then flip each pointer. Flipping several
        pointers is not atomic by itself, so a commit of more than one table
        first names every ``(table, manifest)`` in an intent file under
        ``<root>/_txn`` and removes it after the last flip; a crash in
        between leaves the intent for ``roll_forward``."""
        flips = []
        for name, snap in snaps.items():
            snap.snapshot_id += 1
            manifest = f"snap-{snap.snapshot_id:06d}.json"
            with open(os.path.join(self._table_dir(name), manifest), "w") as fh:
                json.dump(snap.to_json(), fh)
            flips.append((name, manifest))
        intent = None
        if len(flips) > 1:
            intent = os.path.join(self._txn_dir, f"{uuid.uuid4().hex}.json")
            write_json(intent, flips)
        self._flip(flips)
        if intent:
            os.remove(intent)

    def _flip(self, flips: list) -> None:
        for name, manifest in flips:
            write_json(os.path.join(self._table_dir(name), "_pointer.json"), {"current": manifest})

    def roll_forward(self) -> None:
        """Finish the commits a crash left between their intent file and
        their last pointer flip. Flips are idempotent, so an interrupted
        roll-forward just runs again. Only a writer calls this, at start-up,
        while no commit of this lake runs; a reader sees the last state a
        commit left."""
        for entry in sorted(os.listdir(self._txn_dir)):
            path = os.path.join(self._txn_dir, entry)
            if entry.endswith(".json"):
                with open(path) as fh:
                    self._flip(json.load(fh))
            os.remove(path)  # an intent's unfinished .tmp was never flipped

    # ------------------------------------------------------------------ reads
    def _abs_files(self, name: str, files: list[str]) -> list[str]:
        tdir = self._table_dir(name)
        return [os.path.join(tdir, f) for f in files]

    def read(
        self,
        name: str,
        buckets: Optional[list[int]] = None,
        snap: Optional[TableSnapshot] = None,
    ) -> DataFrame:
        """Read the table (optionally bucket-pruned) with the manifest schema,
        so added-but-not-rewritten columns null-fill."""
        snap = snap or self.snapshot(name)
        files = self._abs_files(name, snap.files(buckets))
        if not files:
            return self.spark.createDataFrame([], snap.spark_schema)
        return self.spark.read.schema(snap.spark_schema).parquet(*files)

    def row_count(self, name: str) -> int:
        return self.read(name).count()

    def footer_row_count(self, name: str, files: list[str]) -> int:
        """Row count of the table-relative parquet ``files`` from their footer
        metadata, read driver-side with pyarrow — zero Spark jobs. Used by
        the per-batch lineage so it costs no scheduler round-trip (a batch
        writes a handful of bucket files; footer reads are small local IO)."""
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in self._abs_files(name, files))

    # ----------------------------------------------------------------- writes
    @staticmethod
    def bucket_expr(bucket_by: list[str], n_buckets: int):
        """Deterministic bucket id of a row. Root tables bucket on their PK,
        children on their _root_* columns: same key values => same bucket id,
        which keeps the root/child orphan anti-join bucket-aligned."""
        return F.pmod(F.xxhash64(*[F.col(c) for c in bucket_by]), F.lit(n_buckets)).cast("int")

    def _write_bucketed(self, name: str, df: DataFrame, snap: TableSnapshot) -> dict[str, list[str]]:
        """Write df partitioned by bucket under a fresh commit dir; return
        {bucket: [relative file paths]}. The bucket column is encoded in the
        directory name (not stored in the files)."""
        commit_id = f"c{snap.snapshot_id + 1:06d}-{uuid.uuid4().hex[:8]}"
        rel_dir = os.path.join("data", commit_id)
        out_dir = os.path.join(self._table_dir(name), rel_dir)
        cols = [f.name for f in snap.spark_schema.fields]
        bucketed = df.withColumn(
            "_bucket",
            self.bucket_expr(snap.bucket_by, snap.n_buckets)
            if snap.bucket_by
            else F.lit(0),
        ).select("_bucket", *cols)
        if snap.bucket_by:
            # One exchange aligned to the physical layout: without it,
            # partitionBy fans every task out across all bucket dirs
            # (tasks × buckets small files); with it, each bucket is written
            # by one task and each commit adds exactly one file per touched
            # bucket (Iceberg-like bounded file counts). Write-stage BALANCE
            # comes from over-partitioned shuffles upstream, NOT from salting
            # this exchange: a round-4 experiment salted buckets to
            # shuffle.partitions write tasks and it amplified files per
            # commit w-fold, growing every later merge's small-file read and
            # regressing end-to-end throughput.
            bucketed = bucketed.repartition(F.col("_bucket"))
        bucketed.write.partitionBy("_bucket").parquet(out_dir, mode="overwrite")
        written: dict[str, list[str]] = {}
        for entry in os.listdir(out_dir):
            if not entry.startswith("_bucket="):
                continue
            b = entry.split("=", 1)[1]
            files = [
                os.path.join(rel_dir, entry, f)
                for f in os.listdir(os.path.join(out_dir, entry))
                if f.endswith(".parquet")
            ]
            if files:
                written[b] = files
        return written

    def touched_buckets(self, df: DataFrame, snap: TableSnapshot) -> list[int]:
        """Distinct bucket ids present in df (small: <= n_buckets values)."""
        if not snap.bucket_by:
            return [0]
        rows = (
            df.select(self.bucket_expr(snap.bucket_by, snap.n_buckets).alias("b"))
            .distinct()
            .collect()
        )
        return sorted(r["b"] for r in rows)

    def overwrite_buckets(
        self, name: str, df: DataFrame, buckets: list[int], snap: TableSnapshot
    ) -> TableSnapshot:
        """Replace the file set of ``buckets`` with df's data (df must already
        be restricted to those buckets); all other buckets keep their files."""
        written = self._write_bucketed(name, df, snap)
        for b in buckets:
            snap.bucket_files.pop(str(b), None)
        for b, files in written.items():
            snap.bucket_files.setdefault(b, []).extend(files)
        return snap

    def append(self, name: str, df: DataFrame, snap: TableSnapshot) -> TableSnapshot:
        written = self._write_bucketed(name, df, snap)
        for b, files in written.items():
            snap.bucket_files.setdefault(b, []).extend(files)
        return snap

    def overwrite_all(self, name: str, df: DataFrame, snap: TableSnapshot) -> TableSnapshot:
        written = self._write_bucketed(name, df, snap)
        snap.bucket_files = written
        return snap

    # --------------------------------------------------------------- vacuum
    def vacuum(self, name: str, retain_last: int = 1) -> dict:
        """Expire superseded state: delete data files not referenced by the
        ``retain_last`` most recent snapshots, and manifests older than those
        (≙ Iceberg expire_snapshots + remove_orphan_files; the reference
        leans on ClickHouse background merges for the same reclamation).
        Each bucket-pruned rewrite supersedes the files of the buckets it
        touched; the engine vacuums after every data commit, so a table
        holds at most the files of its last ``retain_last`` snapshots.

        ``retain_last=1`` keeps only the current snapshot's files — callers
        must then ensure no reader is pinned to an older snapshot (same
        contract as Iceberg snapshot expiry). The engine uses
        ``retain_last=2`` so that a lazy DataFrame read from the previous
        snapshot stays readable. Returns removal counts."""
        snap = self.snapshot(name)
        tdir = self._table_dir(name)
        keep_ids = {snap.snapshot_id - i for i in range(max(retain_last, 1))}
        keep_manifests = {f"snap-{i:06d}.json" for i in keep_ids if i >= 0}
        referenced = {os.path.normpath(f) for f in snap.files()}
        for m in sorted(keep_manifests):
            p = os.path.join(tdir, m)
            if m != f"snap-{snap.snapshot_id:06d}.json" and os.path.exists(p):
                with open(p) as fh:
                    referenced |= {
                        os.path.normpath(f)
                        for f in TableSnapshot.from_json(json.load(fh)).files()
                    }
        removed = {"data_files": 0, "manifests": 0}
        data_dir = os.path.join(tdir, "data")
        for root, _dirs, files in os.walk(data_dir, topdown=False):
            for f in files:
                p = os.path.join(root, f)
                rel = os.path.normpath(os.path.relpath(p, tdir))
                if rel not in referenced:
                    # sidecars (_SUCCESS, .crc) are swept too but only real
                    # data files are reported
                    os.remove(p)
                    if f.endswith(".parquet"):
                        removed["data_files"] += 1
            if root != data_dir and not os.listdir(root):
                os.rmdir(root)
        for f in os.listdir(tdir):
            if f.startswith("snap-") and f.endswith(".json") and f not in keep_manifests:
                os.remove(os.path.join(tdir, f))
                removed["manifests"] += 1
        return removed

    # -------------------------------------------------------------- evolution
    def add_column(self, col_name: str, spark_type: T.DataType, ch_type: str,
                   snap: TableSnapshot) -> TableSnapshot:
        """ADD COLUMN: manifest-only (readers null-fill), left uncommitted
        like the other ALTERs below.
        ≙ reference ``ClickhouseConnection.addColumn`` (ts:38-54)."""
        schema = snap.spark_schema.add(col_name, spark_type, True)
        snap.schema_json = schema.jsonValue()
        snap.ch_columns = snap.ch_columns + [
            {"name": col_name, "type": ch_type, "is_in_sorting_key": False}
        ]
        return snap

    def drop_column(self, col_name: str, snap: TableSnapshot) -> TableSnapshot:
        """DROP COLUMN: manifest-only (scan prunes the column)."""
        schema = T.StructType([f for f in snap.spark_schema.fields if f.name != col_name])
        snap.schema_json = schema.jsonValue()
        snap.ch_columns = [c for c in snap.ch_columns if c["name"] != col_name]
        return snap

    def modify_column(self, name: str, col_name: str, spark_type: T.DataType, ch_type: str,
                      snap: TableSnapshot) -> TableSnapshot:
        """MODIFY COLUMN: rewrite with cast (≙ ClickHouse mutation). Fails the
        whole ALTER when any existing value is unrepresentable in the new
        type, mirroring the reference's abort-on-error
        (``jsonSchemaTranslator.ts:190-209``, fixture
        ``stream_vanilla_with_incompatible_update.jsonl``): one
        footer-cheap ``limit(1)`` probe with ``try_cast`` BEFORE anything is
        rewritten or the manifest mutated, so an aborted ALTER leaves the
        table untouched (ClickHouse's revert, ``ClickhouseConnection.ts:56-77``)."""
        old = self.read(name, snap=snap)
        violation = (
            old.where(F.col(col_name).isNotNull() & F.col(col_name).try_cast(spark_type).isNull())
            .limit(1)
            .collect()
        )
        if violation:
            raise IncompatibleColumnModification(
                f"cannot MODIFY column {name}.{col_name} to {ch_type}: value "
                f"{violation[0][col_name]!r} is not representable in the new type"
            )
        fields = []
        for f in snap.spark_schema.fields:
            if f.name == col_name:
                fields.append(T.StructField(f.name, spark_type, f.nullable))
            else:
                fields.append(f)
        schema = T.StructType(fields)
        casted = old.withColumn(col_name, F.col(col_name).try_cast(spark_type))
        snap.schema_json = schema.jsonValue()
        snap.ch_columns = [
            {**c, "type": ch_type} if c["name"] == col_name else c for c in snap.ch_columns
        ]
        return self.overwrite_all(name, casted.select(*[f.name for f in fields]), snap)
