"""Merge / delete operators over the lake — the reference's category-D ops
(``SURVEY.md §2 D1-D7``) re-expressed as bucket-pruned DataFrame plans.

Scale notes (the 100 TB story):

- every operator prunes to the buckets its keys touch before reading the
  target, so cost scales with batch size, not table size;
- the latest-wins dedup is a ``max_by`` hash aggregate per bucket-restricted
  union: partial aggregation collapses hot keys **map-side**, so a hot
  (repo, path) receiving millions of updates in one batch reduces to one row
  per input partition before the exchange — no single task ever sees the
  full hot-key row set. This is the skew defense (an explicit salted
  two-phase reduce is unnecessary because partial agg IS the salted phase,
  with salt = input partition).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from .catalog import LakeCatalog, TableSnapshot

#: the boolean column that marks a ``merge_upsert`` batch row as a tombstone
TOMBSTONE_COL = "__ts"


def latest_wins(df: DataFrame, pk: list[str], ver_col: str = "_ver") -> DataFrame:
    """ReplacingMergeTree collapse: keep the max-`_ver` row per key
    (reference engine semantics, ``jsonSchemaTranslator.ts:36`` +
    ``OPTIMIZE FINAL`` at ``StreamProcessor.ts:108``). Ties cannot occur
    because `_ver` is unique per record (derived from the source offset).

    Plan shape: ``groupBy(pk).agg(max_by(struct(<non-key cols>), _ver))``
    instead of a per-key ``row_number()`` window. The window form re-shuffles
    every row by pk and sorts inside each partition — a hot key lands on one
    task. ``max_by`` is a declarative aggregate with partial (map-side)
    combine: each input partition emits at most one candidate row per key,
    so the exchange carries O(keys), not O(rows), and skew disappears."""
    others = [c for c in df.columns if c not in pk]
    packed = df.groupBy(*pk).agg(
        F.max_by(F.struct(*[F.col(c) for c in others]), F.col(ver_col)).alias("__top")
    )
    return packed.select(*pk, *[F.col("__top").getField(c).alias(c) for c in others])


def merge_upsert(
    catalog: LakeCatalog,
    name: str,
    batch: DataFrame,
    snap: Optional[TableSnapshot] = None,
    touched: Optional[list[int]] = None,
) -> TableSnapshot:
    """MERGE INTO … WHEN MATCHED AND s._ver > t._ver THEN UPDATE/DELETE, as
    a ``max_by`` aggregate (``latest_wins``) over target ∪ batch, restricted
    to the touched buckets.

    The batch must carry the full table schema (pks, simple cols, `_ver`)
    plus the boolean ``TOMBSTONE_COL``: DELETED_RECORD events enter
    the same versioned merge as tombstone rows, so a delete at offset k kills
    exactly the versions below k and a later re-insert survives — strictly
    ordered CDC semantics (the reference applies buffered DELETEs at commit
    time, which can drop a re-insert landing in the same commit window;
    replay convergence per BASELINE.json requires the ordered form). The
    max-`_ver` row per key wins whichever side it comes from, so a batch row
    older than the committed one loses to it.

    Returns the updated (uncommitted) snapshot.
    """
    snap = snap or catalog.snapshot(name)
    assert snap.engine == "replacing", f"{name} is not a replacing table"
    cols = [f.name for f in snap.spark_schema.fields]
    batch = batch.select(*cols, TOMBSTONE_COL)
    if touched is None:
        touched = catalog.touched_buckets(batch, snap)
    if not touched:
        return snap
    target = catalog.read(name, buckets=touched, snap=snap).withColumn(TOMBSTONE_COL, F.lit(False))
    # No explicit salting needed: latest_wins is a max_by hash aggregate whose
    # partial (map-side) combine already collapses hot keys per input
    # partition before the shuffle. (An explicit salted write was measured
    # and reverted in round 4: it amplified files-per-commit w-fold and
    # regressed end-to-end replay; the former ``skew_salt`` knob is removed.)
    merged = latest_wins(target.unionByName(batch), snap.pk, "_ver")
    merged = merged.where(~F.col(TOMBSTONE_COL)).drop(TOMBSTONE_COL)
    return catalog.overwrite_buckets(name, merged, touched, snap)


def append_rows(
    catalog: LakeCatalog,
    name: str,
    batch: DataFrame,
    snap: Optional[TableSnapshot] = None,
) -> TableSnapshot:
    """Plain-MergeTree ingestion: append files, no dedup (children + no-PK
    roots; reference ``RecordProcessor.ts:166``)."""
    snap = snap or catalog.snapshot(name)
    cols = [f.name for f in snap.spark_schema.fields]
    return catalog.append(name, batch.select(*cols), snap)


def delete_where(
    catalog: LakeCatalog,
    name: str,
    condition,
    snap: Optional[TableSnapshot] = None,
) -> TableSnapshot:
    """DELETE WHERE <condition> (reference D5 cleaning-column wipe,
    ``StreamProcessor.ts:121-146``). Not key-pruned — the predicate may touch
    any bucket — so this rewrites the full table; the engine bounds how often
    it runs (once per new cleaning value per run, like the reference)."""
    snap = snap or catalog.snapshot(name)
    target = catalog.read(name, snap=snap)
    return catalog.overwrite_all(name, target.where(~condition), snap)


def orphan_delete(
    catalog: LakeCatalog,
    child_name: str,
    root_df: DataFrame,
    root_pk: list[str],
    child_root_cols: list[str],
    buckets: Optional[list[int]] = None,
    snap: Optional[TableSnapshot] = None,
    new_rows: Optional[DataFrame] = None,
) -> TableSnapshot:
    """Child-orphan delete (reference D3, ``StreamProcessor.ts:148-169``):
    drop child rows whose (root key…, _root_ver) has no surviving root row.

    Children are bucketed on their ``_root_*`` columns with the same hash as
    the root's PK bucketing, so when ``buckets`` (the root buckets touched
    this batch) is given, only those child buckets are read and rewritten.

    Without ``new_rows``, ``root_df`` is the surviving root rows, and a
    child row survives if it semi-joins to one of them on
    (root key…, _root_ver): a sweep against a committed root.

    With ``new_rows`` (a batch's child rows, all in ``buckets``), one write
    adds them and drops the orphans without reading the root table:
    ``root_df`` is the batch's own root rows, records and tombstones, and a
    child row survives unless one of them has its root key and a higher
    ``_ver``. So an existing row survives if the batch does not write its
    key, and a batch row if its root row is its key's last in the batch and
    not a tombstone. This equals the semi-join against the merged root when
    every batch ``_ver`` is above every committed root ``_ver`` and the child
    matched the committed root before the batch. The stream's atomic commits
    keep both true, and the engine refuses a batch where either fails.
    """
    snap = snap or catalog.snapshot(child_name)
    child = catalog.read(child_name, buckets=buckets, snap=snap)
    if new_rows is None:
        surviving = root_df.select(
            *[F.col(p).alias(c) for p, c in zip(root_pk, child_root_cols)],
            F.col("_ver").alias("_root_ver"),
        )
        kept = child.join(surviving, on=child_root_cols + ["_root_ver"], how="left_semi")
    else:
        rows = child.unionByName(new_rows.select(*child.columns))
        newer = root_df.select(
            *[F.col(p).alias(f"__batch_{c}") for p, c in zip(root_pk, child_root_cols)],
            F.col("_ver").alias("__batch_ver"),
        )
        on = [F.col(c) == F.col(f"__batch_{c}") for c in child_root_cols]
        for c in child_root_cols:  # a null root key matches no root row, as in the semi-join
            rows = rows.where(F.col(c).isNotNull())
        kept = rows.join(F.broadcast(newer), on + [F.col("__batch_ver") > F.col("_root_ver")], "left_anti")
    if buckets is not None:
        return catalog.overwrite_buckets(child_name, kept, buckets, snap)
    return catalog.overwrite_all(child_name, kept, snap)


class PKIntegrityError(RuntimeError):
    pass


def assert_pk_integrity(catalog: LakeCatalog, name: str, keys: Optional[list[str]] = None) -> None:
    """Post-merge duplicate-key assertion (reference D7,
    ``StreamProcessor.ts:176-193``, the ``neighbor()`` trick ≙ group-count).
    ``keys`` defaults to the table's full key set (reference asserts on all
    pkMappings: root + parent + current + level)."""
    snap = catalog.snapshot(name)
    keys = keys or snap.pk or snap.order_by
    if not keys:
        return
    dup = (
        catalog.read(name, snap=snap)
        .groupBy(*keys)
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise PKIntegrityError(f"Duplicate key on table {name}, data: {dup[0].asDict()}")
