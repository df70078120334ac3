"""Streaming driver tests: checkpointed apply, kill/resume convergence
(reference replay-convergence golden, processStream.spec.ts:364-402, in
streaming form per SURVEY.md §7 M5)."""

import hashlib
import json
import os
import threading

import pytest

from singer_target_clickhouse_spark.config import Config
from singer_target_clickhouse_spark.engine import SingerEngine
from singer_target_clickhouse_spark.gen import REPO_SCHEMA_MESSAGE, REPO_STREAM
from singer_target_clickhouse_spark.lake import merge
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

    # absolute per-batch wall windows in the engine's batch records (round-4
    # ADVICE: windows reconstructed from process launch were shifted by the
    # pre-first-batch startup interval)
    import time as _time
    with open(os.path.join(lake, "_metrics", "batches.jsonl")) as fh:
        recs = [json.loads(line) for line in fh]
    assert recs, "expected at least one batch record"
    for r in recs:
        assert r["wall_start"] < r["wall_end"] <= _time.time()
    starts = [r["wall_start"] for r in recs]
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


def _drive(spark, root, batches):
    """Write ``batches`` under ``root`` as one log file each and run a driver
    over them, one file per micro-batch."""
    log = root / "log"
    for i, msgs in enumerate(batches):
        _write_log(log, f"{i:03d}.jsonl", msgs)
        os.utime(log / f"{i:03d}.jsonl", (1_000_000 + i, 1_000_000 + i))
    cfg = Config(lake_root=str(root / "lake"), n_buckets=4)
    StreamingDriver(spark, cfg, str(log), str(root / "ckpt"), max_files_per_trigger=1).run_available()


def _tk_run(spark, root, mp=None, calls=None, crash=None):
    """Run a driver over ``_TK_LOG`` under ``root``. With ``mp``, every
    ``SingerEngine._commit`` call appends its table to ``calls``, and
    ``crash=(n, when)`` raises just "before" or "after" the n-th call."""
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
    _drive(spark, root, _TK_LOG)


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


def test_unreplayed_crash_leaves_no_orphans(spark, tmp_path, monkeypatch):
    # A crash between a child's commit and its root's leaves the child ahead
    # of the root. When the next run does not replay that batch, the child
    # must be brought back to the committed root before its next rewrite, or
    # the rows the uncommitted batch wrote stay as orphans and the rows it
    # replaced are lost.
    cfg = Config(lake_root=str(tmp_path / "lake"), n_buckets=4)

    def lines(msgs, base):
        return spark.createDataFrame(
            [(json.dumps(m), base + i) for i, m in enumerate(msgs)], "value string, _seq long")

    SingerEngine(spark, cfg).apply_lines(lines([_TK_SCHEMA] + [_tk(i, f"a{i}") for i in range(20)], 0))
    orig = SingerEngine._commit

    def commit(self, name, snap):
        if name == "tk":
            raise _Crash("injected before the root commit")
        orig(self, name, snap)

    with monkeypatch.context() as mp:
        mp.setattr(SingerEngine, "_commit", commit)
        with pytest.raises(_Crash):
            SingerEngine(spark, cfg).apply_lines(lines([_tk(i, f"b{i}") for i in range(20)], 100))
    e = SingerEngine(spark, cfg)
    e.apply_lines(lines([_tk(0, "c0")], 200))

    root = e.catalog.read("tk").selectExpr("id AS _root_id", "_ver AS _root_ver")
    child = e.catalog.read("tk__tags")
    assert child.join(root, ["_root_id", "_root_ver"], "left_anti").count() == 0
    assert [r["t"] for r in child.where("_root_id = 0").collect()] == ["c0"]
    # the keys the new run did not write keep their committed child rows
    assert sorted((r["_root_id"], r["t"]) for r in child.where("_root_id > 0").collect()) == [
        (i, f"a{i}") for i in range(1, 20)]


def test_unreplayed_crash_restores_emptied_child(spark, tmp_path, monkeypatch):
    # As above, but the crashed batch emptied the child: its previous rows
    # must come back although the child it left ahead has no files.
    cfg = Config(lake_root=str(tmp_path / "lake"), n_buckets=4)

    def lines(msgs, base):
        return spark.createDataFrame(
            [(json.dumps(m), base + i) for i, m in enumerate(msgs)], "value string, _seq long")

    SingerEngine(spark, cfg).apply_lines(lines([_TK_SCHEMA] + [_tk(i, f"a{i}") for i in range(20)], 0))
    orig = SingerEngine._commit

    def commit(self, name, snap):
        if name == "tk":
            raise _Crash("injected before the root commit")
        orig(self, name, snap)

    with monkeypatch.context() as mp:
        mp.setattr(SingerEngine, "_commit", commit)
        with pytest.raises(_Crash):
            SingerEngine(spark, cfg).apply_lines(lines([_tk(i) for i in range(20)], 100))
    assert SingerEngine(spark, cfg).catalog.snapshot("tk__tags").files() == []
    e = SingerEngine(spark, cfg)
    e.apply_lines(lines([_tk(0, "c0")], 200))
    got = sorted((r["_root_id"], r["t"]) for r in e.catalog.read("tk__tags").collect())
    assert got == [(0, "c0")] + [(i, f"a{i}") for i in range(1, 20)]


_MC_SCHEMA = {
    "type": "SCHEMA", "stream": "mc",
    "schema": {"type": "object", "properties": {
        "id": {"type": "integer"},
        "tags": {"type": ["null", "array"], "items": {"type": "object", "properties": {
            "t": {"type": ["null", "string"]}}}},
        "notes": {"type": ["null", "array"], "items": {"type": ["null", "string"]}}}},
    "key_properties": ["id"],
}
_FL_SCHEMA = {
    "type": "SCHEMA", "stream": "fl",
    "schema": {"type": "object", "properties": {
        "id": {"type": "integer"}, "v": {"type": ["null", "string"]}}},
    "key_properties": ["id"],
}


def _mc(i, tags, notes):
    return {"type": "RECORD", "stream": "mc",
            "record": {"id": i, "tags": [{"t": t} for t in tags], "notes": notes}}


def _fl(i, v):
    return {"type": "RECORD", "stream": "fl", "record": {"id": i, "v": v}}


#: a root with two children (``mc__tags``, ``mc__notes``) beside a flat
#: stream, every batch writing both; the last one updates and deletes keys
#: whose child rows earlier batches committed
_MC_LOG = [
    [_MC_SCHEMA, _FL_SCHEMA] + [_mc(i, [f"t{i}"], [f"n{i}"]) for i in range(8)]
    + [_fl(i, "a") for i in range(4)] + [{"type": "STATE", "value": {"pos": 0}}],
    [_mc(1, ["t1b", "t1c"], []), _mc(2, [], ["n2b"]), _fl(1, "b"),
     {"type": "STATE", "value": {"pos": 1}}],
    [_mc(3, ["t3c"], ["n3c", "n3d"]), {"type": "DELETED_RECORD", "stream": "mc", "record": {"id": 4}},
     _mc(1, ["t1d"], ["n1d"]), _mc(9, ["t9"], []), _fl(2, "c"), _fl(5, "c"),
     {"type": "STATE", "value": {"pos": 2}}],
]


def test_crash_in_concurrent_child_write_converges(spark, tmp_path, monkeypatch):
    # The root and both children of a stream write at once. One child's
    # write raises in the last batch while its sibling's write runs: the
    # batch must fail with no table of that stream committing it, and a
    # fresh driver must converge to the uninterrupted run.
    _drive(spark, tmp_path / "ref", _MC_LOG)
    want = _lake_digest(spark, str(tmp_path / "ref" / "lake"))
    assert want["_state.json"] == {"pos": 2}

    # in the last batch both child writes meet at the barrier, which breaks
    # (failing the test) unless they run at the same time
    calls = {"mc__tags": 0, "mc__notes": 0}
    both_running = threading.Barrier(2, timeout=60)
    orig = merge.orphan_delete

    def orphan_delete(catalog, child_name, *args, **kwargs):
        calls[child_name] += 1
        if calls[child_name] == len(_MC_LOG):
            both_running.wait()
            if child_name == "mc__notes":
                raise _Crash("injected in the mc__notes write")
        return orig(catalog, child_name, *args, **kwargs)

    root = tmp_path / "crash"
    with monkeypatch.context() as mp:
        mp.setattr(merge, "orphan_delete", orphan_delete)
        with pytest.raises(Exception, match="injected"):
            _drive(spark, root, _MC_LOG)
    assert calls == {"mc__tags": len(_MC_LOG), "mc__notes": len(_MC_LOG)}
    ref = LakeCatalog(str(tmp_path / "ref" / "lake"), spark)
    cat = LakeCatalog(str(root / "lake"), spark)
    for t in ("mc", "mc__tags", "mc__notes"):
        assert cat.snapshot(t).last_applied_seq < ref.snapshot(t).last_applied_seq, t

    _drive(spark, root, _MC_LOG)
    assert _lake_digest(spark, str(root / "lake")) == want
