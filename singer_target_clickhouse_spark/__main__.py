"""CLI entry — the reference's ``bin/execute`` / ``src/index.ts`` surface.

Batch replay:
    python -m singer_target_clickhouse_spark --lake /path/to/lake \\
        --input messages.jsonl [--update-streams s1 s2] [--translate-values]

Streaming tail (file-backed change log + checkpoint):
    python -m singer_target_clickhouse_spark --lake /path/to/lake \\
        --stream-dir /path/to/log --checkpoint /path/to/ckpt [--offsets-in-log]

The reference reads stdin by default (``index.ts:20``); pass ``--input -``
for the same behavior (lines are staged to a temp file, removed when the run
ends — Spark needs a seekable source).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

from pyspark.sql import SparkSession

from .config import Config
from .engine import SingerEngine


def build_session(cpus: str, shuffle_partitions: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("singer-target-clickhouse-spark")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="singer_target_clickhouse_spark")
    p.add_argument("--lake", required=True, help="lake root directory")
    p.add_argument("--input", help="JSONL message file; '-' = stdin")
    p.add_argument("--stream-dir", help="directory to tail with Structured Streaming")
    p.add_argument("--checkpoint", help="checkpoint dir (streaming mode)")
    p.add_argument("--offsets-in-log", action="store_true",
                   help="log lines are '<seq>\\tmessage' (durable offsets)")
    p.add_argument("--update-streams", nargs="*", default=[],
                   help="streams whose tables are dropped and recreated (reference --update-streams)")
    p.add_argument("--translate-values", action="store_true")
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--cpus", default="*")
    p.add_argument("--shuffle-partitions", type=int, default=32)
    args = p.parse_args(argv)

    cfg = Config(
        lake_root=args.lake,
        translate_values=args.translate_values,
        streams_to_replace=list(args.update_streams),
        n_buckets=args.n_buckets,
    )
    spark = build_session(args.cpus, args.shuffle_partitions)
    try:
        if args.stream_dir:
            if not args.checkpoint:
                p.error("--checkpoint is required with --stream-dir")
            from .streaming import StreamingDriver

            StreamingDriver(
                spark, cfg, args.stream_dir, args.checkpoint,
                offsets_in_log=args.offsets_in_log,
            ).run_available()
        elif args.input:
            path = args.input
            if path == "-":
                with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as fh:
                    for line in sys.stdin:
                        fh.write(line)
                    path = fh.name
            try:
                engine = SingerEngine(spark, cfg)
                engine.run_file(path)
            finally:
                if args.input == "-":
                    os.remove(path)
            state = engine.read_state()
            if state is not None:
                # echo committed state for the tap (reference index.ts:21-22)
                sys.stdout.write(__import__("json").dumps(state) + "\n")
        else:
            p.error("one of --input / --stream-dir is required")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
