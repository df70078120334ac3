"""Streaming driver tests: checkpointed apply, kill/resume convergence
(reference replay-convergence golden, processStream.spec.ts:364-402, in
streaming form per SURVEY.md §7 M5)."""

import json

from singer_target_clickhouse_spark.config import Config
from singer_target_clickhouse_spark.engine import SingerEngine
from singer_target_clickhouse_spark.gen import REPO_SCHEMA_MESSAGE, REPO_STREAM
from singer_target_clickhouse_spark.streaming import StreamingDriver


def _write_log(dirpath, name, messages):
    dirpath.mkdir(parents=True, exist_ok=True)
    (dirpath / name).write_text("".join(json.dumps(m) + "\n" for m in messages))


def _rec(repo, path, commit):
    return {
        "type": "RECORD",
        "stream": REPO_STREAM,
        "record": {"repo": repo, "path": path, "commit": commit, "lang": "py", "content": f"c-{commit}"},
    }


def test_streaming_apply_and_resume(spark, tmp_path):
    log = tmp_path / "log"
    ckpt = str(tmp_path / "ckpt")
    lake = str(tmp_path / "lake")
    _write_log(log, "000.jsonl", [
        REPO_SCHEMA_MESSAGE,
        _rec("r1", "a.py", "c1"),
        _rec("r1", "b.py", "c2"),
        {"type": "STATE", "value": {"pos": 1}},
    ])

    cfg = Config(lake_root=lake, n_buckets=4)
    d1 = StreamingDriver(spark, cfg, str(log), ckpt)
    d1.run_available()
    eng = d1.engine
    assert eng.catalog.row_count(REPO_STREAM) == 2
    assert eng.read_state() == {"pos": 1}

    # absolute per-batch wall windows (round-4 ADVICE: windows reconstructed
    # from process launch were shifted by the pre-first-batch startup interval)
    import time as _time
    assert d1.batch_phase_log, "expected at least one batch phase record"
    for ph in d1.batch_phase_log:
        assert ph["wall_start"] < ph["wall_end"] <= _time.time()
        assert abs((ph["wall_end"] - ph["wall_start"]) - ph["batch_total"]) < 0.01
    starts = [ph["wall_start"] for ph in d1.batch_phase_log]
    assert starts == sorted(starts)

    # new file arrives; a NEW driver instance (process restart) resumes from
    # the checkpoint and applies only the new file
    _write_log(log, "001.jsonl", [
        _rec("r1", "a.py", "c3"),  # update: latest wins
        {"type": "STATE", "value": {"pos": 2}},
    ])
    d2 = StreamingDriver(spark, cfg, str(log), ckpt)
    d2.run_available()
    e2 = d2.engine
    rows = {(r["repo"], r["path"]): r["commit"] for r in e2.catalog.read(REPO_STREAM).collect()}
    assert rows == {("r1", "a.py"): "c3", ("r1", "b.py"): "c2"}
    assert e2.read_state() == {"pos": 2}

    # run id pinned across restarts -> same run, versions monotone
    assert d1.engine.run_id == d2.engine.run_id


def test_streaming_replay_is_noop(spark, tmp_path):
    """Re-running the driver with nothing new must not change the lake."""
    log = tmp_path / "log"
    ckpt = str(tmp_path / "ckpt")
    lake = str(tmp_path / "lake")
    _write_log(log, "000.jsonl", [REPO_SCHEMA_MESSAGE, _rec("r1", "a.py", "c1")])
    cfg = Config(lake_root=lake, n_buckets=4)
    StreamingDriver(spark, cfg, str(log), ckpt).run_available()

    e = SingerEngine(spark, cfg)
    before = sorted(map(tuple, e.catalog.read(REPO_STREAM).collect()))
    StreamingDriver(spark, cfg, str(log), ckpt).run_available()
    after = sorted(map(tuple, e.catalog.read(REPO_STREAM).collect()))
    assert before == after
