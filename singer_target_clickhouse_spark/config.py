"""Engine configuration.

Mirrors the reference's ``src/Config.ts`` knobs where they still make sense on
Spark, and adds the Spark-native ones (bucket count, merge concurrency,
cleaning-value cap). The reference's row-buffering knobs (``batch_size``,
``insert_stream_timeout``) have no field here: micro-batch triggers subsume
them. Behaviours the reference has no switch for have none here either: the
child-orphan delete runs in every batch's child rewrite, finalize always
asserts PK integrity, and every data commit vacuums its table.

The reference defines ``finalize_concurrency`` (default 3,
``src/Config.ts:32``) but its finalize pool actually uses ``batch_size``
(``src/processStream.ts:161``). Here one pool bound, ``merge_concurrency``,
serves the batch merges and finalize alike.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .identifiers import DEFAULT_SUBTABLE_SEPARATOR


@dataclass
class Config:
    #: Root directory of the lake (tables live under ``<root>/tables/<name>``).
    lake_root: str = "/tmp/stcs_lake"

    #: Separator between parent and child table names (reference default
    #: ``src/Config.ts:27``).
    subtable_separator: str = DEFAULT_SUBTABLE_SEPARATOR

    #: Re-parse scalar values (bool/int/float/string coercion) like the
    #: reference's ``translate_values`` (``src/Config.ts:30``,
    #: ``src/SchemaTranslator.ts``). Implemented as JVM-side cast/when chains,
    #: never per-row Python.
    translate_values: bool = False

    #: Streams whose tables must be dropped and recreated at SCHEMA time
    #: (reference ``--update-streams`` CLI flag, ``src/index.ts:6-9``).
    streams_to_replace: list[str] = field(default_factory=list)

    #: Tables exempt from ACTIVE_STREAMS retirement
    #: (reference ``extra_active_tables``, ``src/Config.ts:33``).
    extra_active_tables: list[str] = field(default_factory=list)

    #: Number of hash buckets per table. Merges / orphan deletes rewrite only the
    #: buckets touched by a batch, so this bounds write amplification; at
    #: 100 TB you want O(10k) buckets so a bucket is a few hundred MB.
    n_buckets: int = 32

    #: How many streams' merges run concurrently WITHIN a batch, how many
    #: table writes of one stream (its root merge and child rewrites) run
    #: concurrently, and how many streams finalize concurrently (driver-side
    #: thread pools submitting independent Spark jobs): the
    #: writes touch disjoint tables and share only the read-only parse
    #: cache, so a multi-stream tap (the reference's stream_1 shape is 21
    #: tables) or a root with several children keeps the cluster busy
    #: instead of idling between per-table driver barriers. 1 = serial.
    merge_concurrency: int = 4

    #: Hard cap on distinct RAW TEXT cleaning-column values collected per
    #: batch (falsy values count toward the cap; a text appearing as both
    #: number and string counts once). Every new truthy value triggers a
    #: full-table DELETE WHERE rewrite, so cardinality beyond this is a
    #: misconfiguration — fail loudly instead of OOMing the driver on the
    #: distinct collect.
    max_cleaning_values: int = 10_000

