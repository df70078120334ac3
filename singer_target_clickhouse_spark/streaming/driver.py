"""Structured-Streaming CDC driver — reference ``processStream`` main loop
(``src/processStream.ts:126-168``) as a ``readStream`` + ``foreachBatch`` job.

The change log is a directory of JSONL files (a file-backed binlog; a Kafka
source drops in by replacing ``_read_stream`` and using the Kafka offset as
``_seq``). Each micro-batch flows through ``SingerEngine.apply_lines``.

Exactly-once across restarts:

- Spark's checkpoint tracks which files belong to which ``batch_id``; a
  crashed batch is redelivered with the same content;
- a sidecar ``seq_base.json`` in the checkpoint dir records the global
  sequence base per ``batch_id`` *before* the apply, so a redelivered batch
  re-derives identical ``_seq`` values (and therefore identical ``_ver``);
- the engine's per-table ``last_applied_seq`` gate then makes the re-apply
  a no-op for tables that already committed.

Run-id is pinned to the checkpoint dir, so a restarted job continues the
same run (same version base) instead of re-basing like a fresh run would.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import Config
from ..engine import SingerEngine
from ..shred import SEQ_COL


class StreamingDriver:
    def __init__(
        self,
        spark: SparkSession,
        config: Config,
        input_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: Optional[int] = None,
        offsets_in_log: bool = False,
    ):
        """``offsets_in_log=True`` declares the log format carries its own
        offsets (lines are ``<seq>\\tmessage``, like a binlog position /
        Kafka offset) — `_seq` is then recovered with a JVM-side split, with
        no sidecar state. Plain logs number their lines JVM-side too
        (``with_line_offsets``: one extra count job per batch, no per-row
        Python) and keep a per-batch sequence base in ``seq_base.json``."""
        self.spark = spark
        self.config = config
        self.input_dir = input_dir
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.offsets_in_log = offsets_in_log
        os.makedirs(checkpoint_dir, exist_ok=True)
        self.engine = SingerEngine(spark, config, run_id=self._pinned_run_id())

    # ------------------------------------------------------------- run-id pin
    def _pinned_run_id(self) -> str:
        path = os.path.join(self.checkpoint_dir, "run_id.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)["run_id"]
        import uuid

        run_id = uuid.uuid4().hex
        with open(path, "w") as fh:
            json.dump({"run_id": run_id}, fh)
        return run_id

    # ----------------------------------------------------------- seq recovery
    def _seq_base_for(self, batch_id: int, batch_count: int) -> int:
        """Durable, replay-stable sequence base per micro-batch."""
        path = os.path.join(self.checkpoint_dir, "seq_base.json")
        bases: dict[str, list[int]] = {}
        if os.path.exists(path):
            with open(path) as fh:
                bases = json.load(fh)
        key = str(batch_id)
        if key in bases:
            return bases[key][0]
        next_base = max((b + n for b, n in bases.values()), default=0)
        bases[key] = [next_base, batch_count]
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(bases, fh)
        os.replace(tmp, path)
        return next_base

    # ------------------------------------------------------------------ batch
    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.offsets_in_log:
            # The log carries durable offsets (binlog/Kafka style): recover
            # them JVM-side — no Python in the row path, replay-stable by
            # construction, no sidecar bookkeeping needed.
            split = F.split(F.col("value"), "\t", 2)
            lines = batch.select(
                F.element_at(split, 2).alias("value"),
                F.element_at(split, 1).cast("long").alias(SEQ_COL),
            )
            self.engine.apply_lines(lines)
            return
        # Plain logs: deterministic intra-batch order — the file source
        # redelivers an uncommitted batch with the identical file set
        # (checkpoint WAL), and partition planning over that set is
        # deterministic, so the JVM-side offset recovery reproduces identical
        # line numbers on replay (with_line_offsets: mono-id arithmetic + one
        # O(partitions) count job — no per-row Python, unlike zipWithIndex).
        from ..engine import with_line_offsets

        lines, n = with_line_offsets(batch)
        if n == 0:
            return
        base = self._seq_base_for(batch_id, n)
        lines = lines.withColumn(SEQ_COL, F.col(SEQ_COL) + F.lit(base))
        self.engine.apply_lines(lines)

    # ------------------------------------------------------------------- runs
    def _read_stream(self) -> DataFrame:
        reader = self.spark.readStream.format("text")
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.load(self.input_dir)

    def run_available(self, finalize: bool = True) -> None:
        """Process everything currently in the directory, then stop
        (``trigger(availableNow)``) — the batch-replay mode of the reference
        CLI, but checkpointed and resumable."""
        query = (
            self._read_stream()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        if finalize:
            self.engine.finalize()


def kafka_source_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector jars are on the session."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


class KafkaStreamingDriver(StreamingDriver):
    """Kafka-backed change log — the production entry point the reference's
    stdin pipe maps to (``processStream.ts:126`` reads a totally ordered
    stream; a binlog-style Kafka topic with ONE partition is the same total
    order). The Kafka record offset IS the durable ``_seq``: recovered
    JVM-side from the source metadata columns, replay-stable by construction
    — exactly the ``offsets_in_log`` contract of the file driver, so the
    engine's exactly-once gate works unchanged.

    Multi-partition topics have no global order and are rejected up front:
    shard streams across topics (one per tap) rather than partitions, or add
    a partition-epoch to the seq like Debezium's (partition, offset) pairs.

    Requires the ``spark-sql-kafka-0-10`` connector jars
    (``kafka_source_available``); tests skip without them."""

    def __init__(
        self,
        spark: SparkSession,
        config: Config,
        bootstrap_servers: str,
        topic: str,
        checkpoint_dir: str,
        max_offsets_per_trigger: Optional[int] = None,
    ):
        super().__init__(spark, config, input_dir="", checkpoint_dir=checkpoint_dir)
        self.bootstrap_servers = bootstrap_servers
        self.topic = topic
        self.max_offsets_per_trigger = max_offsets_per_trigger

    def _read_stream(self) -> DataFrame:
        reader = (
            self.spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .option("subscribe", self.topic)
            .option("startingOffsets", "earliest")
        )
        if self.max_offsets_per_trigger:
            reader = reader.option("maxOffsetsPerTrigger", self.max_offsets_per_trigger)
        return reader.load()

    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        # Structural single-partition guard (advisor round 2): offsets are
        # globally unique only within one partition, so ANY partition other
        # than 0 — even in a batch that happens to contain a single partition
        # — means the topic is (or became) multi-partition and the offset-as-
        # seq mapping is unsound. Requiring parts ⊆ {0} detects a later topic
        # expansion the moment its first record arrives, unlike the previous
        # per-batch distinct-count check which a skewed batch could slip past.
        parts = [r["partition"] for r in batch.select("partition").distinct().collect()]
        if any(p != 0 for p in parts):
            raise ValueError(
                f"topic {self.topic} delivered records from partition(s) "
                f"{sorted(parts)}; a CDC change log must be a single "
                "totally-ordered partition (partition 0). Shard streams "
                "across topics, not partitions."
            )
        lines = batch.select(
            F.col("value").cast("string").alias("value"),
            F.col("offset").cast("long").alias(SEQ_COL),
        )
        self.engine.apply_lines(lines)
