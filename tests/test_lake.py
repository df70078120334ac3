"""Lake-level maintenance + alternate-source tests: vacuum GC and the Kafka
batch mapping (connector-less parts)."""

import hashlib
import json
import os

import pytest

from singer_target_clickhouse_spark.config import Config
from singer_target_clickhouse_spark.engine import SingerEngine
from singer_target_clickhouse_spark.streaming import (
    KafkaStreamingDriver,
    kafka_source_available,
)

DATA = os.path.join(os.path.dirname(__file__), "fixtures")


def test_vacuum_reclaims_superseded_files(spark, tmp_path):
    lake = str(tmp_path / "lake")
    e1 = SingerEngine(spark, Config(lake_root=lake, n_buckets=4))
    e1.run_file(f"{DATA}/stream_short.jsonl")
    e2 = SingerEngine(spark, Config(lake_root=lake, n_buckets=4))
    e2.run_file(f"{DATA}/stream_short.jsonl")  # rewrite => superseded files

    tdir = os.path.join(lake, "tables", "tickets")
    def parquet_count():
        n = 0
        for _root, _dirs, files in os.walk(os.path.join(tdir, "data")):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    before_rows = e2.catalog.row_count("tickets")
    before_files = parquet_count()
    removed = e2.catalog.vacuum("tickets")
    assert removed["data_files"] > 0 and removed["manifests"] > 0
    assert parquet_count() == before_files - removed["data_files"]
    # current snapshot unaffected; a fresh engine still reads the table
    e3 = SingerEngine(spark, Config(lake_root=lake, n_buckets=4))
    assert e3.catalog.row_count("tickets") == before_rows
    # referenced files all still exist
    snap = e3.catalog.snapshot("tickets")
    for f in snap.files():
        assert os.path.exists(os.path.join(tdir, f)), f


def _kafka_batch(spark, messages, partition=0):
    rows = [
        (json.dumps(m).encode("utf-8"), i, partition) for i, m in enumerate(messages)
    ]
    return spark.createDataFrame(rows, "value binary, offset long, partition int")


def test_kafka_batch_mapping(spark, tmp_path):
    # the connector-independent part of the Kafka driver: (value, offset) ->
    # (value string, _seq) feeding the same engine path as offset logs
    drv = KafkaStreamingDriver(
        spark, Config(lake_root=str(tmp_path / "lake"), n_buckets=4),
        bootstrap_servers="none:9092", topic="t", checkpoint_dir=str(tmp_path / "ck"),
    )
    msgs = [
        {"type": "SCHEMA", "stream": "k", "schema": {"type": "object", "properties":
            {"id": {"type": "integer"}, "v": {"type": ["null", "string"]}}},
         "key_properties": ["id"]},
        {"type": "RECORD", "stream": "k", "record": {"id": 1, "v": "a"}},
        {"type": "RECORD", "stream": "k", "record": {"id": 1, "v": "b"}},
    ]
    drv._apply_batch(_kafka_batch(spark, msgs), 0)
    got = [(r["id"], r["v"]) for r in drv.engine.catalog.read("k").select("id", "v").collect()]
    assert got == [(1, "b")]


def test_kafka_multi_partition_rejected(spark, tmp_path):
    drv = KafkaStreamingDriver(
        spark, Config(lake_root=str(tmp_path / "lake2"), n_buckets=4),
        bootstrap_servers="none:9092", topic="t", checkpoint_dir=str(tmp_path / "ck2"),
    )
    rows = [(b"{}", 0, 0), (b"{}", 0, 1)]
    batch = spark.createDataFrame(rows, "value binary, offset long, partition int")
    with pytest.raises(ValueError, match="partition"):
        drv._apply_batch(batch, 0)


def test_kafka_probe_is_bool(spark):
    assert kafka_source_available(spark) in (True, False)


def test_kafka_nonzero_partition_rejected_even_if_single(spark, tmp_path):
    # structural guard: a batch entirely from partition 1 (e.g. after a topic
    # expansion with skewed delivery) must fail — offsets from partition 1
    # collide with partition 0's seq space (advisor round 2)
    drv = KafkaStreamingDriver(
        spark, Config(lake_root=str(tmp_path / "lake3"), n_buckets=4),
        bootstrap_servers="none:9092", topic="t", checkpoint_dir=str(tmp_path / "ck3"),
    )
    batch = _kafka_batch(spark, [{"type": "STATE", "value": {}}], partition=1)
    with pytest.raises(ValueError, match="partition"):
        drv._apply_batch(batch, 0)


def test_vacuum_retain_last_keeps_previous_snapshot(spark, tmp_path):
    lake = str(tmp_path / "lakeR")
    e1 = SingerEngine(spark, Config(lake_root=lake, n_buckets=4))
    e1.run_file(f"{DATA}/stream_short.jsonl")
    e2 = SingerEngine(spark, Config(lake_root=lake, n_buckets=4))
    e2.run_file(f"{DATA}/stream_short.jsonl")
    cat = e2.catalog
    cur = cat.snapshot("tickets")
    tdir = os.path.join(lake, "tables", "tickets")
    prev_manifest = os.path.join(tdir, f"snap-{cur.snapshot_id - 1:06d}.json")
    with open(prev_manifest) as fh:
        prev = json.load(fh)
    cat.vacuum("tickets", retain_last=2)
    # previous snapshot's manifest AND files survive; reads still work
    assert os.path.exists(prev_manifest)
    for f in prev["bucket_files"].get("0", []):
        assert os.path.exists(os.path.join(tdir, f))
    assert cat.row_count("tickets") == 1
    # retain_last=1 then reclaims them
    cat.vacuum("tickets", retain_last=1)
    assert not os.path.exists(prev_manifest)
    assert cat.row_count("tickets") == 1


def _parquet_count(lake: str, table: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(os.path.join(lake, "tables", table)):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_auto_vacuum_bounds_storage(spark, tmp_path):
    # replaying many batches with auto-vacuum keeps on-disk parquet bounded
    # (without it, every merge strands a superseded file set per bucket)
    lake = str(tmp_path / "lakeAV")
    e = SingerEngine(spark, Config(lake_root=lake, n_buckets=2))
    schema = json.dumps({
        "type": "SCHEMA", "stream": "av", "schema": {"type": "object", "properties": {
            "id": {"type": "integer"}, "v": {"type": ["null", "integer"]}}},
        "key_properties": ["id"]})

    def batch(i):
        recs = [json.dumps({"type": "RECORD", "stream": "av",
                            "record": {"id": k, "v": i}}) for k in range(8)]
        lines = ([schema] if i == 0 else []) + recs
        base = i * 100
        return spark.createDataFrame(
            [(l, base + j) for j, l in enumerate(lines)], "value string, _seq long")

    for i in range(6):
        e.apply_lines(batch(i))

    # 6 merges over 2 buckets: unvacuumed would hold ~6 file generations;
    # retain_last=2 after every commit keeps 2 generations on disk
    assert _parquet_count(lake, "av") <= 2 * 2
    got = sorted((r["id"], r["v"]) for r in e.catalog.read("av").collect())
    assert got == [(k, 5) for k in range(8)]


def test_auto_vacuum_bounds_child_storage(spark, tmp_path):
    # a child table commits once per batch (its touched buckets rewritten
    # with the batch rows and without orphans); auto-vacuum must fire on it
    # and keep its on-disk parquet bounded like the root's
    lake = str(tmp_path / "lakeAVC")
    e = SingerEngine(spark, Config(lake_root=lake, n_buckets=2))
    schema = json.dumps({
        "type": "SCHEMA", "stream": "avc", "schema": {"type": "object", "properties": {
            "id": {"type": "integer"},
            "items": {"type": ["null", "array"], "items": {
                "type": "object", "properties": {"x": {"type": ["null", "integer"]}}}}}},
        "key_properties": ["id"]})

    def batch(i):
        recs = [json.dumps({"type": "RECORD", "stream": "avc",
                            "record": {"id": k, "items": [{"x": i}, {"x": i + 1}]}})
                for k in range(8)]
        lines = ([schema] if i == 0 else []) + recs
        base = i * 100
        return spark.createDataFrame(
            [(l, base + j) for j, l in enumerate(lines)], "value string, _seq long")

    n_batches = 8
    for i in range(n_batches):
        e.apply_lines(batch(i))

    child = "avc__items"
    assert child in e.catalog.list_tables()

    # every batch strands a superseded file set per bucket on the child
    # (its bucket rewrite); without vacuum that grows with the batch count,
    # with it 2 generations stay on disk
    assert _parquet_count(lake, child) <= 2 * 2
    got = sorted((r["x"],) for r in e.catalog.read(child).collect())
    assert got == [(n_batches - 1,)] * 8 + [(n_batches,)] * 8


def test_storage_stays_within_two_generations(spark, tmp_path):
    # Under the default Config, a keyed stream with a child that rewrites
    # every key each batch holds at most its current and previous file
    # generations after every batch; manifests add the rest. Without a vacuum
    # on every data commit each batch strands one more copy of the data.
    lake = str(tmp_path / "lakeSA")
    e = SingerEngine(spark, Config(lake_root=lake))
    schema = json.dumps({
        "type": "SCHEMA", "stream": "sa", "schema": {"type": "object", "properties": {
            "id": {"type": "integer"}, "p": {"type": ["null", "string"]},
            "items": {"type": ["null", "array"], "items": {
                "type": "object", "properties": {"x": {"type": ["null", "string"]}}}}}},
        "key_properties": ["id"]})

    def payload(*parts):  # 1 KB that parquet cannot compress away
        return "".join(hashlib.sha256(f"{parts}{k}".encode()).hexdigest() for k in range(16))

    def batch(i):
        recs = [json.dumps({"type": "RECORD", "stream": "sa", "record": {
                    "id": k, "p": payload(i, k),
                    "items": [{"x": payload(i, k, 0)}, {"x": payload(i, k, 1)}]}})
                for k in range(48)]
        lines = ([schema] if i == 0 else []) + recs
        return spark.createDataFrame(
            [(l, i * 100 + j) for j, l in enumerate(lines)], "value string, _seq long")

    for i in range(10):
        e.apply_lines(batch(i))
        for t in ("sa", "sa__items"):
            tdir = os.path.join(lake, "tables", t)
            on_disk = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(tdir) for f in fs)
            live = sum(os.path.getsize(os.path.join(tdir, f)) for f in e.catalog.snapshot(t).files())
            assert on_disk <= 2.2 * live, (i, t, on_disk / live)


def test_multi_table_commit_rolls_forward(spark, tmp_path, monkeypatch):
    # A commit of several tables names their manifests in one intent file
    # under <lake>/_txn before it flips their pointers. A crash after the
    # first flip leaves the tables torn and the intent in place; a reader
    # sees the torn state, and the next writer's start-up flips the rest and
    # removes the intent.
    from pyspark.sql import types as T

    from singer_target_clickhouse_spark.lake import catalog as C

    lake = str(tmp_path / "lake")
    cat = C.LakeCatalog(lake, spark)
    schema = T.StructType([T.StructField("k", T.StringType())])
    snaps = {t: cat.create_table(t, schema=schema, ch_columns=[], pk=[], order_by=[],
                                 engine="plain", bucket_by=[], n_buckets=1)
             for t in ("a", "b", "c")}
    orig = C.write_json

    def write_json(path, obj):
        orig(path, obj)
        if path.endswith("_pointer.json"):
            raise RuntimeError("injected after the first pointer flip")

    with monkeypatch.context() as mp:
        mp.setattr(C, "write_json", write_json)
        with pytest.raises(RuntimeError, match="injected"):
            cat.commit_snapshot(snaps)
    txn = os.path.join(lake, "_txn")

    def ids():
        return [C.LakeCatalog(lake, spark).snapshot(t).snapshot_id for t in ("a", "b", "c")]

    assert ids() == [1, 0, 0]
    assert len(os.listdir(txn)) == 1
    SingerEngine(spark, Config(lake_root=lake))
    assert ids() == [1, 1, 1]
    assert os.listdir(txn) == []
    # the rolled-forward snapshots commit on as usual
    cat.commit_snapshot(snaps)
    assert ids() == [2, 2, 2]
    assert os.listdir(txn) == []


def test_merge_upsert_latest_wins_golden(spark, tmp_path):
    # merge_upsert keeps the max-_ver row per key over target ∪ batch across
    # inserts, updates, tombstones, a same-batch record+tombstone sequence,
    # null keys, and batch rows older than the committed ones.
    from pyspark.sql import types as T

    from singer_target_clickhouse_spark.lake import merge as M
    from singer_target_clickhouse_spark.lake.catalog import LakeCatalog

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.StringType()),
        T.StructField("_ver", T.LongType()),
    ])

    def batch_df(rows):
        return spark.createDataFrame(rows, "k string, v string, _ver long, __ts boolean")

    batches = [
        # inserts incl a null key, an in-batch update, and an in-batch
        # record-then-tombstone (tombstone wins: higher _ver)
        [("a", "1", 1, False), ("b", "1", 2, False), (None, "n", 3, False),
         ("a", "2", 4, False), ("c", "1", 5, False), ("c", None, 6, True)],
        # cross-batch update, tombstone of an old key, re-insert after
        # tombstone in the same batch, update of the null key
        [("b", "2", 11, False), ("a", None, 12, True), ("a", "3", 13, False),
         (None, "n2", 14, False), ("d", "1", 15, False)],
        # tombstone the null key; touch a single bucket only
        [(None, None, 21, True), ("d", "2", 22, False)],
        # stale versions below the committed rows' _ver: an update of "b",
        # an update of "d" and a tombstone of "a" — the committed rows survive
        [("b", "stale", 7, False), ("d", "stale", 16, False), ("a", None, 3, True)],
    ]

    cat = LakeCatalog(str(tmp_path / "lake"), spark)
    snap = cat.create_table(
        "t", schema=schema,
        ch_columns=[{"name": c, "type": "String", "is_in_sorting_key": c == "k"}
                    for c in ("k", "v")],
        pk=["k"], order_by=["k"], engine="replacing",
        bucket_by=["k"], n_buckets=4,
    )
    for rows in batches:
        snap = M.merge_upsert(cat, "t", batch_df(rows), snap=snap)
        cat.commit_snapshot({"t": snap})
    got = sorted(map(tuple, cat.read("t").collect()), key=lambda r: (r[0] is None, r))
    # the merged content is what ordered CDC semantics demand
    assert got == [("a", "3", 13), ("b", "2", 11), ("d", "2", 22)]
