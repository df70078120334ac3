"""Benchmark harness (driver contract).

Runs the headline workloads at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: ``{"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ..., "extra": {...}}``.

The flagship metric is the CDC replay: a deterministic Singer change stream
(1 event per lineitem row at the given sf) applied through the engine into a
fresh lake across 4 micro-batches, reported both as seconds and as
events/sec in ``extra``.

Env knobs:
- ``SPARK_GRAFT_SF_DIR``  data directory (default /root/testdata/sf0.1)
- ``SPARK_GRAFT_CPUS``    local[] parallelism (default 32)
- ``STCS_BENCH_DOC_CAP``  doc/vec id cap of the pair-enumeration queries
  (default 1500, recorded in ``extra``)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


#: The operator suite, in run order.
QUERY_NAMES = [
    "cdc_latest_wins", "q1_pricing_summary", "q3_shipping_priority",
    "q5_revenue_by_nation", "window_top_orders", "text_profile",
    "dedup_exact", "dedup_minhash_lsh", "dedup_clusters",
    "dedup_token_jaccard", "dedup_simhash", "ann_cosine_topk", "ann_ivf_topk",
    "dedup_embedding_cosine", "text_wordcount_top",
]


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    # Session-level granularity = QUERY-SUITE granularity: one shuffle
    # partition per core and default (128 MB) scan splits. The replay path's
    # finer granularity is scoped to ``bench_cdc_replay`` via runtime conf:
    # applied globally in round 4 it slowed the whole tiny-data query suite
    # ~21-42% (r3 61.1 s -> r4 87.0 s at local[32] sf0.1; see round-4
    # VERDICT "What's wrong #1").
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stcs-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )


class _replay_granularity:
    """Scope the replay over-decomposition (4x tasks per core for shuffles,
    <=32 MB scan splits) to the CDC-replay measurement: one-wave stages
    (tasks == slots) leave cores idle behind stragglers, several waves
    amortize them. Runtime-settable confs only (shuffle partitions, split
    size); restored on exit so the query suite keeps the coarser session
    granularity."""

    def __init__(self, spark, cpus: int):
        self.spark = spark
        self.shuffle = str(min(max(4 * cpus, 16), 64))
        self.split = str(32 * 1024 * 1024)

    def __enter__(self):
        c = self.spark.conf
        self._old = {
            k: c.get(k)
            for k in ("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")
        }
        c.set("spark.sql.shuffle.partitions", self.shuffle)
        c.set("spark.sql.files.maxPartitionBytes", self.split)
        return self

    def __exit__(self, *exc):
        for k, v in self._old.items():
            self.spark.conf.set(k, v)


def bench_cdc_replay(spark, sf_dir: str):
    """events/sec applied through the real architecture: an offset-bearing
    JSONL change log tailed by the Structured Streaming driver
    (checkpointed foreachBatch -> shred -> bucket-pruned MERGE), replayed to
    a converged lake. Log generation is untimed; the timed window covers all
    micro-batches + finalize."""
    from singer_target_clickhouse_spark.config import Config
    from singer_target_clickhouse_spark.gen import REPO_STREAM, change_events_df, write_jsonl
    from singer_target_clickhouse_spark.streaming import StreamingDriver

    n = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    events = change_events_df(spark, n, n_repos=200, paths_per_repo=2000, content_len=64)
    log_dir = write_jsonl(events, tempfile.mkdtemp(prefix="stcs_bench_log_"),
                          n_files=8, with_offsets=True)
    lake = tempfile.mkdtemp(prefix="stcs_bench_lake_")
    ckpt = tempfile.mkdtemp(prefix="stcs_bench_ckpt_")
    # 8 log files, 2 per trigger: 4 micro-batches into a 32-bucket lake
    n_buckets = 32
    driver = StreamingDriver(
        spark, Config(lake_root=lake, n_buckets=n_buckets), log_dir, ckpt,
        max_files_per_trigger=2, offsets_in_log=True,
    )
    os.sync()  # flush the generated log before the timed window
    t0 = time.time()
    driver.run_available()
    elapsed = time.time() - t0
    rows = driver.engine.catalog.row_count(REPO_STREAM)
    bt = list(driver.batch_times)  # deque (bounded log) -> list for slicing
    steady = sorted(bt[1:] or bt)
    median = steady[len(steady) // 2]
    per_batch = (n + 1) / max(len(bt), 1)
    phases = [
        {k: round(v, 2) for k, v in ph.items() if v >= 0.01}
        for ph in driver.batch_phase_log
    ]
    return elapsed, {
        "events": n + 1,
        "events_per_sec": round((n + 1) / elapsed, 1),
        "steady_events_per_sec": round(per_batch * len(steady) / sum(steady), 1),
        # robust to this VM's multi-second IO stalls: throughput at the
        # median post-warmup batch
        "median_batch_events_per_sec": round(per_batch / median, 1),
        "batch_times": [round(b, 2) for b in bt],
        # per-batch serial-window attribution (engine phase clocks +
        # streaming trigger gap)
        "batch_phases": phases,
        "final_rows": rows,
        "n_buckets": n_buckets,
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    # Bound the O(n^2)-by-construction pair-enumeration ops (see _t in
    # __spark_entry__): deterministic doc/vec id cap, recorded in extra.
    os.environ.setdefault("STCS_BENCH_DOC_CAP", "1500")

    spark = build_spark(cpus)
    import __spark_entry__ as entrymod

    timings: dict[str, float] = {}
    extra: dict[str, object] = {
        "cpus": cpus,
        "doc_cap": int(os.environ["STCS_BENCH_DOC_CAP"]),
    }

    # flagship: CDC replay (runs under its own finer task granularity)
    with _replay_granularity(spark, cpus):
        elapsed, info = bench_cdc_replay(spark, sf_dir)
    timings["cdc_replay"] = round(elapsed, 2)
    extra.update(info)

    qs = entrymod.queries()
    for name in QUERY_NAMES:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 2)

    total = round(sum(timings.values()), 2)
    print(json.dumps({
        "metric": "cdc replay + query suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extra": extra,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
