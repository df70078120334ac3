"""Streaming driver tests: checkpointed apply, kill/resume convergence
(reference replay-convergence golden, processStream.spec.ts:364-402, in
streaming form per SURVEY.md §7 M5)."""

import hashlib
import json
import os

import pytest

from singer_target_clickhouse_spark.config import Config
from singer_target_clickhouse_spark.engine import SingerEngine
from singer_target_clickhouse_spark.gen import REPO_SCHEMA_MESSAGE, REPO_STREAM
from singer_target_clickhouse_spark.lake.catalog import LakeCatalog
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


# ------------------------------------------------------- crash-point recovery

_TK_SCHEMA = {
    "type": "SCHEMA", "stream": "tk",
    "schema": {"type": "object", "properties": {
        "id": {"type": "integer"},
        "tags": {"type": ["null", "array"], "items": {"type": "object", "properties": {
            "t": {"type": ["null", "string"]}}}}}},
    "key_properties": ["id"],
}


def _tk(i, *tags):
    return {"type": "RECORD", "stream": "tk", "record": {"id": i, "tags": [{"t": t} for t in tags]}}


#: one nested stream (root ``tk``, child ``tk__tags``) over three files, one
#: micro-batch each; the last batch updates and deletes keys whose child rows
#: were committed by earlier batches
_TK_LOG = [
    [_TK_SCHEMA, _tk(1, "a", "b"), _tk(2, "c"), _tk(3, "d", "e"), _tk(4, "f"),
     {"type": "STATE", "value": {"pos": 0}}],
    [_tk(1, "a2"), _tk(5, "g", "h"), {"type": "STATE", "value": {"pos": 1}}],
    [_tk(3, "d3", "e3", "f3"), {"type": "DELETED_RECORD", "stream": "tk", "record": {"id": 4}},
     _tk(2, "c2"), _tk(6, "i"), {"type": "STATE", "value": {"pos": 2}}],
]


def _tk_run(spark, root, mp=None, calls=None, crash=None):
    """Write the log under ``root`` and run a driver over it, one file per
    batch. With ``mp``, every ``SingerEngine._commit`` call appends its table
    to ``calls``, and ``crash=(n, when)`` raises just "before" or "after" the
    n-th call."""
    log = root / "log"
    for i, msgs in enumerate(_TK_LOG):
        _write_log(log, f"{i:03d}.jsonl", msgs)
        os.utime(log / f"{i:03d}.jsonl", (1_000_000 + i, 1_000_000 + i))
    if mp is not None:
        orig = SingerEngine._commit

        def commit(self, name, snap):
            n = len(calls)
            if crash == (n, "before"):
                raise _Crash(f"injected before _commit call {n}")
            calls.append(name)
            orig(self, name, snap)
            if crash == (n, "after"):
                raise _Crash(f"injected after _commit call {n}")

        mp.setattr(SingerEngine, "_commit", commit)
    cfg = Config(lake_root=str(root / "lake"), n_buckets=4)
    StreamingDriver(spark, cfg, str(log), str(root / "ckpt"), max_files_per_trigger=1).run_available()


def _lake_digest(spark, lake):
    """sha256 of every table (all columns, ``_ver`` included) plus ``_state.json``."""
    cat = LakeCatalog(lake, spark)
    out = {}
    for t in cat.list_tables():
        df = cat.read(t)
        df = df.select(*sorted(df.columns))
        payload = sorted(json.dumps(list(r), default=str) for r in df.collect())
        out[t] = hashlib.sha256("\n".join(payload).encode()).hexdigest()
    with open(os.path.join(lake, "_state.json")) as fh:
        out["_state.json"] = json.load(fh)
    return out


class _Crash(RuntimeError):
    pass


@pytest.mark.parametrize("when", ["before", "after"])
def test_crash_in_last_batch_converges(spark, tmp_path, monkeypatch, when):
    # Exactly-once under a crash inside the last batch's commit sequence.
    # The uninterrupted run counts the batch's SingerEngine._commit calls;
    # "before" raises just before each of them in turn, "after" raises once
    # after the last one returns, before _state.json is written. After each
    # crash a fresh driver restarts on the same lake and checkpoint, and the
    # result must equal the uninterrupted run's tables (_ver included) and
    # _state.json. The cases come from the measured count, so they cover
    # every commit point of whichever commit sequence the engine runs.
    calls, starts = [], []
    orig_apply = SingerEngine.apply_lines

    def apply_lines(self, lines):
        starts.append(len(calls))
        orig_apply(self, lines)

    with monkeypatch.context() as mp:
        mp.setattr(SingerEngine, "apply_lines", apply_lines)
        _tk_run(spark, tmp_path / "ref", mp, calls)
    assert len(starts) == len(_TK_LOG)
    want = _lake_digest(spark, str(tmp_path / "ref" / "lake"))
    assert want["_state.json"] == {"pos": 2}
    first, n_last = starts[-1], len(calls) - starts[-1]
    assert set(calls[first:]) == {"tk", "tk__tags"}

    points = range(first, first + n_last) if when == "before" else [first + n_last - 1]
    for n in points:
        root = tmp_path / f"{when}{n}"
        with monkeypatch.context() as mp:
            with pytest.raises(Exception, match="injected"):
                _tk_run(spark, root, mp, [], crash=(n, when))
        _tk_run(spark, root)
        assert _lake_digest(spark, str(root / "lake")) == want, (
            f"no convergence after a crash {when} _commit call {n - first} of the last batch"
        )
