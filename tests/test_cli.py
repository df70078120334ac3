"""CLI surface tests (reference bin/execute, src/index.ts)."""

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_cli_batch_replay_and_state_echo(tmp_path):
    inp = tmp_path / "in.jsonl"
    inp.write_text(
        '{"type": "SCHEMA", "stream": "t", "schema": {"type": "object", "properties": '
        '{"id": {"type": "integer"}}}, "key_properties": ["id"]}\n'
        '{"type": "RECORD", "stream": "t", "record": {"id": 1}}\n'
        '{"type": "STATE", "value": {"pos": 42}}\n'
    )
    lake = tmp_path / "lake"
    out = subprocess.run(
        [sys.executable, "-m", "singer_target_clickhouse_spark",
         "--lake", str(lake), "--input", str(inp), "--cpus", "4",
         "--shuffle-partitions", "4", "--n-buckets", "4"],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # state echoed to stdout, like the reference writes to its output stream
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {"pos": 42}
    assert (lake / "tables" / "t" / "_pointer.json").exists()


def test_cli_update_streams_recreates(tmp_path):
    inp = tmp_path / "in.jsonl"
    inp.write_text(
        '{"type": "SCHEMA", "stream": "t", "schema": {"type": "object", "properties": '
        '{"id": {"type": "integer"}}}, "key_properties": ["id"]}\n'
        '{"type": "RECORD", "stream": "t", "record": {"id": 1}}\n'
    )
    lake = tmp_path / "lake"
    base = [sys.executable, "-m", "singer_target_clickhouse_spark",
            "--lake", str(lake), "--input", str(inp), "--cpus", "4",
            "--shuffle-partitions", "4", "--n-buckets", "4"]
    assert subprocess.run(base, capture_output=True, timeout=300, cwd=REPO).returncode == 0
    # --update-streams drops and recreates: snapshot id resets to 1 commit
    out = subprocess.run(base + ["--update-streams", "t"],
                         capture_output=True, text=True, timeout=300, cwd=REPO)
    assert out.returncode == 0, out.stderr[-2000:]
    snap = json.loads((lake / "tables" / "t" / "_pointer.json").read_text())
    assert snap["current"].startswith("snap-")


def test_cli_stdin_input_removes_staged_copy(tmp_path):
    # `--input -` stages stdin to a temp file (Spark needs a seekable
    # source); the run must remove that copy, not leak one per run
    staging = tmp_path / "tmp"
    staging.mkdir()
    lake = tmp_path / "lake"
    out = subprocess.run(
        [sys.executable, "-m", "singer_target_clickhouse_spark",
         "--lake", str(lake), "--input", "-", "--cpus", "4",
         "--shuffle-partitions", "4", "--n-buckets", "4"],
        input='{"type": "SCHEMA", "stream": "t", "schema": {"type": "object", "properties": '
              '{"id": {"type": "integer"}}}, "key_properties": ["id"]}\n'
              '{"type": "RECORD", "stream": "t", "record": {"id": 1}}\n'
              '{"type": "STATE", "value": {"pos": 7}}\n',
        capture_output=True, text=True, timeout=300, cwd=REPO,
        env={**os.environ, "TMPDIR": str(staging)},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {"pos": 7}
    assert not list(staging.rglob("*.jsonl"))
