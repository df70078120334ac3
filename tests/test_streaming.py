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
from singer_target_clickhouse_spark.lake import catalog, merge
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
    ``SingerEngine._commit`` call appends its sorted tables to ``calls``, and
    ``crash=(n, when)`` raises just "before" or "after" the n-th call, or,
    with an integer ``when`` k, right after that call's k-th pointer flip."""
    if mp is not None:
        orig, orig_write = SingerEngine._commit, catalog.write_json
        flips = []

        def commit(self, snaps):
            n = len(calls)
            if crash == (n, "before"):
                raise _Crash(f"injected before _commit call {n}")
            calls.append(sorted(snaps))
            orig(self, snaps)
            if crash == (n, "after"):
                raise _Crash(f"injected after _commit call {n}")

        def write_json(path, obj):
            orig_write(path, obj)
            if crash[0] == len(calls) - 1 and os.path.basename(path) == "_pointer.json":
                flips.append(path)
                if len(flips) == crash[1]:
                    raise _Crash(f"injected after pointer flip {len(flips)}")

        mp.setattr(SingerEngine, "_commit", commit)
        if crash is not None:
            mp.setattr(catalog, "write_json", write_json)
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


@pytest.fixture(scope="module")
def tk_ref(spark, tmp_path_factory):
    """The uninterrupted run over ``_TK_LOG``: its ``_lake_digest``, its
    ``SingerEngine._commit`` calls (sorted tables) and the number of calls
    made before each batch started."""
    root = tmp_path_factory.mktemp("tk_ref")
    calls, starts = [], []
    orig_apply = SingerEngine.apply_lines

    def apply_lines(self, lines):
        starts.append(len(calls))
        orig_apply(self, lines)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(SingerEngine, "apply_lines", apply_lines)
        _tk_run(spark, root, mp, calls)
    return _lake_digest(spark, str(root / "lake")), calls, starts


@pytest.mark.parametrize("when", ["before", "flip", "after"])
def test_crash_in_last_batch_converges(spark, tmp_path, monkeypatch, tk_ref, when):
    # Exactly-once under a crash inside the last batch's commit. The
    # uninterrupted run counts the batch's SingerEngine._commit calls (one:
    # the stream's tables commit together); "before" raises just before
    # each of them in turn, "flip" raises right after each pointer flip k of
    # the n tables the last call commits, and "after" raises once after the
    # last call returns, before _state.json is written. After each crash a
    # fresh driver restarts on the same lake and checkpoint, and the result
    # must equal the uninterrupted run's tables (_ver included) and
    # _state.json.
    want, calls, starts = tk_ref
    assert len(starts) == len(_TK_LOG)
    assert want["_state.json"] == {"pos": 2}
    first, last = starts[-1], len(calls) - 1
    assert calls[first:] == [["tk", "tk__tags"]]

    cases = {
        "before": [(n, "before") for n in range(first, last + 1)],
        "flip": [(last, k) for k in range(1, len(calls[last]) + 1)],
        "after": [(last, "after")],
    }[when]
    for crash in cases:
        root = tmp_path / f"{crash[0]}-{crash[1]}"
        with monkeypatch.context() as mp:
            with pytest.raises(Exception, match="injected"):
                _tk_run(spark, root, mp, [], crash=crash)
        _tk_run(spark, root)
        assert _lake_digest(spark, str(root / "lake")) == want, (
            f"no convergence after a crash at {crash} in the last batch"
        )
        assert os.listdir(root / "lake" / "_txn") == []


def test_crash_in_vacuum_converges(spark, tmp_path, monkeypatch, tk_ref):
    # The last batch's commit vacuums each table it wrote. A crash right
    # after that vacuum's first os.remove leaves unreferenced files and the
    # batch unacknowledged; a restart must still converge.
    root = tmp_path / "crash"
    tables = str(root / "lake" / "tables")
    calls, removed = [], []
    orig_commit, orig_remove = SingerEngine._commit, os.remove

    def commit(self, snaps):
        calls.append(sorted(snaps))
        orig_commit(self, snaps)

    def remove(path, *args, **kwargs):
        orig_remove(path, *args, **kwargs)
        if len(calls) == len(_TK_LOG) and str(path).startswith(tables):
            removed.append(path)
            raise _Crash("injected after the vacuum's first os.remove")

    with monkeypatch.context() as mp:
        mp.setattr(SingerEngine, "_commit", commit)
        mp.setattr(os, "remove", remove)
        with pytest.raises(Exception, match="injected"):
            _drive(spark, root, _TK_LOG)
    # one commit per batch, and the crash fell inside the last one's vacuum
    assert calls == [["tk", "tk__tags"]] * len(_TK_LOG) and len(removed) == 1
    _drive(spark, root, _TK_LOG)
    assert _lake_digest(spark, str(root / "lake")) == tk_ref[0]


@pytest.mark.parametrize("when", ["before", "after"])
def test_crash_around_seq_base_converges(spark, tmp_path, monkeypatch, tk_ref, when):
    # A plain log keeps each micro-batch's sequence base in seq_base.json.
    # A crash just before or just after the last batch's base is written
    # must converge on restart: the redelivered batch gets the same base.
    last = len(_TK_LOG) - 1
    orig = StreamingDriver._seq_base_for

    def seq_base_for(self, batch_id, batch_count):
        if batch_id == last and when == "before":
            raise _Crash("injected before seq_base.json is written")
        base = orig(self, batch_id, batch_count)
        if batch_id == last:
            raise _Crash("injected after seq_base.json is written")
        return base

    root = tmp_path / "crash"
    with monkeypatch.context() as mp:
        mp.setattr(StreamingDriver, "_seq_base_for", seq_base_for)
        with pytest.raises(Exception, match="injected"):
            _drive(spark, root, _TK_LOG)
    with open(root / "ckpt" / "seq_base.json") as fh:
        assert (str(last) in json.load(fh)) == (when == "after")
    _drive(spark, root, _TK_LOG)
    assert _lake_digest(spark, str(root / "lake")) == tk_ref[0]


def _unreplayed_crash(spark, cfg, monkeypatch, crashed, after_intent):
    """Commit 20 ``tk`` keys tagged ``a{i}``, then apply ``crashed`` with a
    crash in its commit: just before the intent file is written, or just
    after it (before any pointer flip)."""
    def lines(msgs, base):
        return spark.createDataFrame(
            [(json.dumps(m), base + i) for i, m in enumerate(msgs)], "value string, _seq long")

    SingerEngine(spark, cfg).apply_lines(lines([_TK_SCHEMA] + [_tk(i, f"a{i}") for i in range(20)], 0))
    orig = catalog.write_json

    def write_json(path, obj):
        intent = os.path.basename(os.path.dirname(path)) == "_txn"
        if intent and not after_intent:
            raise _Crash("injected before the intent file")
        orig(path, obj)
        if intent:
            raise _Crash("injected after the intent file")

    with monkeypatch.context() as mp:
        mp.setattr(catalog, "write_json", write_json)
        with pytest.raises(_Crash):
            SingerEngine(spark, cfg).apply_lines(lines(crashed, 100))
    e = SingerEngine(spark, cfg)
    return e, lambda: e.apply_lines(lines([_tk(0, "c0")], 200))


def test_unreplayed_crash_leaves_no_orphans(spark, tmp_path, monkeypatch):
    # A crash inside a batch's commit, before the intent file, publishes no
    # table of the batch. When the next run does not replay that batch, the
    # child must still match the committed root: no rows the uncommitted
    # batch wrote stay as orphans, and no committed rows are lost.
    cfg = Config(lake_root=str(tmp_path / "lake"), n_buckets=4)
    e, apply_next = _unreplayed_crash(
        spark, cfg, monkeypatch, [_tk(i, f"b{i}") for i in range(20)], after_intent=False)
    apply_next()

    root = e.catalog.read("tk").selectExpr("id AS _root_id", "_ver AS _root_ver")
    child = e.catalog.read("tk__tags")
    assert child.join(root, ["_root_id", "_root_ver"], "left_anti").count() == 0
    assert [r["t"] for r in child.where("_root_id = 0").collect()] == ["c0"]
    # the keys the new run did not write keep their committed child rows
    assert sorted((r["_root_id"], r["t"]) for r in child.where("_root_id > 0").collect()) == [
        (i, f"a{i}") for i in range(1, 20)]


def test_unreplayed_crash_restores_emptied_child(spark, tmp_path, monkeypatch):
    # As above, but the crashed batch empties the child: its committed rows
    # stay, since the emptied child was never published.
    cfg = Config(lake_root=str(tmp_path / "lake"), n_buckets=4)
    e, apply_next = _unreplayed_crash(
        spark, cfg, monkeypatch, [_tk(i) for i in range(20)], after_intent=False)
    assert e.catalog.snapshot("tk__tags").files() != []
    apply_next()
    got = sorted((r["_root_id"], r["t"]) for r in e.catalog.read("tk__tags").collect())
    assert got == [(0, "c0")] + [(i, f"a{i}") for i in range(1, 20)]


def test_unreplayed_crash_after_intent_rolls_forward(spark, tmp_path, monkeypatch):
    # A crash after the intent file, before any pointer flip: the next
    # engine's start-up commits the crashed batch whole, in every table,
    # before the next run applies anything.
    cfg = Config(lake_root=str(tmp_path / "lake"), n_buckets=4)
    e, apply_next = _unreplayed_crash(
        spark, cfg, monkeypatch, [_tk(i, f"b{i}") for i in range(20)], after_intent=True)
    assert os.listdir(tmp_path / "lake" / "_txn") == []
    for t in ("tk", "tk__tags"):
        assert e.catalog.snapshot(t).last_applied_seq == 119, t
    assert sorted((r["_root_id"], r["t"]) for r in e.catalog.read("tk__tags").collect()) == [
        (i, f"b{i}") for i in range(20)]
    assert e.catalog.row_count("tk") == 20
    apply_next()
    got = sorted((r["_root_id"], r["t"]) for r in e.catalog.read("tk__tags").collect())
    assert got == [(0, "c0")] + [(i, f"b{i}") for i in range(1, 20)]


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


def test_crash_in_one_streams_commit_converges(spark, tmp_path, monkeypatch):
    # mc and fl apply on two pool threads. In the last batch fl's commit
    # raises while mc commits: mc keeps the batch, fl does not, and a fresh
    # driver must converge to the uninterrupted run.
    _drive(spark, tmp_path / "ref", _MC_LOG)
    want = _lake_digest(spark, str(tmp_path / "ref" / "lake"))

    calls = {"mc": 0, "fl": 0}
    both_committing = threading.Barrier(2, timeout=60)
    orig = SingerEngine._commit

    def commit(self, snaps):
        stream = "mc" if "mc" in snaps else "fl"
        calls[stream] += 1
        if calls[stream] == len(_MC_LOG):
            both_committing.wait()
            if stream == "fl":
                raise _Crash("injected in fl's commit")
        orig(self, snaps)

    root = tmp_path / "crash"
    with monkeypatch.context() as mp:
        mp.setattr(SingerEngine, "_commit", commit)
        with pytest.raises(Exception, match="injected"):
            _drive(spark, root, _MC_LOG)
    ref = LakeCatalog(str(tmp_path / "ref" / "lake"), spark)
    cat = LakeCatalog(str(root / "lake"), spark)
    for t in ("mc", "mc__tags", "mc__notes"):
        assert cat.snapshot(t).last_applied_seq == ref.snapshot(t).last_applied_seq, t
    assert cat.snapshot("fl").last_applied_seq < ref.snapshot("fl").last_applied_seq

    _drive(spark, root, _MC_LOG)
    assert _lake_digest(spark, str(root / "lake")) == want


_S_SCHEMA = {
    "type": "SCHEMA", "stream": "s",
    "schema": {"type": "object", "properties": {
        "id": {"type": "integer"}, "tag": {"type": ["null", "string"]},
        "items": {"type": ["null", "array"], "items": {"type": "object", "properties": {
            "x": {"type": ["null", "string"]}}}}}},
    "key_properties": ["id"], "cleaning_column": "tag",
}


def _s(i, tag, *xs):
    return {"type": "RECORD", "stream": "s", "record": {"id": i, "tag": tag, "items": [{"x": x} for x in xs]}}


def test_crash_between_wipe_and_child_sweep_converges(spark, tmp_path, monkeypatch):
    # An earlier run commits roots tagged A..D with child rows. A pinned
    # streaming run then sees E in batch 0 and a new A record in batch 1,
    # whose cleaning wipe deletes key 1's root; the child sweep must drop
    # key 1's child rows. A crash between the wipe and the sweep, then a
    # restart of the same run, must converge to the uninterrupted run: the
    # wipe and its sweep commit together or not at all.
    log = [[_S_SCHEMA, _s(5, "E", "e1"), {"type": "STATE", "value": {"pos": 0}}],
           [_s(6, "A"), {"type": "STATE", "value": {"pos": 1}}]]

    def run(root):
        root.mkdir(parents=True, exist_ok=True)
        earlier = root / "earlier.jsonl"
        earlier.write_text("".join(json.dumps(m) + "\n" for m in [
            _S_SCHEMA, _s(1, "A", "x1", "x2"), _s(2, "B", "y1"), _s(3, "C", "w1"), _s(4, "D", "z1")]))
        SingerEngine(spark, Config(lake_root=str(root / "lake"), n_buckets=4)).run_file(str(earlier))

    run(tmp_path / "ref")
    _drive(spark, tmp_path / "ref", log)
    want = _lake_digest(spark, str(tmp_path / "ref" / "lake"))
    got = LakeCatalog(str(tmp_path / "ref" / "lake"), spark).read("s__items").collect()
    assert sorted((r["_root_id"], r["x"]) for r in got) == [(2, "y1"), (3, "w1"), (4, "z1"), (5, "e1")]

    root = tmp_path / "crash"
    run(root)
    sweeps = []
    orig = merge.orphan_delete

    def orphan_delete(*args, **kwargs):
        if kwargs.get("new_rows") is None:  # a table-wide sweep, not a batch rewrite
            sweeps.append(args[1])
            if len(sweeps) == len(log):
                raise _Crash("injected between the wipe and its child sweep")
        return orig(*args, **kwargs)

    with monkeypatch.context() as mp:
        mp.setattr(merge, "orphan_delete", orphan_delete)
        with pytest.raises(Exception, match="injected"):
            _drive(spark, root, log)
    _drive(spark, root, log)
    assert _lake_digest(spark, str(root / "lake")) == want
