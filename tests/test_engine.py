"""End-to-end CDC engine tests asserting the golden outcomes of the
reference's ``tests/processStream.spec.ts``: final row sets, dedup, deletes,
cleaning column, schema evolution, retirement, replay convergence. The input
streams are in-repo reconstructions of the reference's integration fixtures,
kept under ``tests/fixtures/``; FIXTURES.md says where each one comes from."""

import hashlib
import json
import os

import pytest

from singer_target_clickhouse_spark.config import Config
from singer_target_clickhouse_spark.engine import RecordBeforeSchemaError, SingerEngine
from singer_target_clickhouse_spark.lake.catalog import LakeCatalog
from singer_target_clickhouse_spark.schema.translator import PKConsistencyError

DATA = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture()
def lake(tmp_path):
    return str(tmp_path / "lake")


def engine(spark, lake, **over) -> SingerEngine:
    cfg = Config(lake_root=lake, n_buckets=4, **over)
    return SingerEngine(spark, cfg)


def rows(e: SingerEngine, table: str, *cols):
    df = e.catalog.read(table)
    if cols:
        df = df.select(*cols)
    return sorted(tuple(r) for r in df.collect())


def table_hash(e: SingerEngine, table: str) -> str:
    """Deterministic content hash of a table (column-name-sorted, row-sorted).
    Version columns are excluded: like the reference, a re-run assigns fresh
    versions — only business content must converge."""
    df = e.catalog.read(table)
    df = df.select(*sorted(c for c in df.columns if c not in ("_ver", "_root_ver")))
    payload = sorted(json.dumps(r, default=str) for r in (list(t) for t in df.collect()))
    return hashlib.sha256("\n".join(payload).encode()).hexdigest()


# --------------------------------------------------------------------- basics

def test_tiny_then_delete(spark, lake):
    # processStream.spec.ts:562-573
    e1 = engine(spark, lake)
    e1.run_file(f"{DATA}/stream_tiny.jsonl")
    assert rows(e1, "tickets", "id") == [(1,), (2,), (3,)]
    e2 = engine(spark, lake)
    e2.run_file(f"{DATA}/stream_tiny_with_delete.jsonl")
    assert rows(e2, "tickets", "id") == [(1,), (3,)]


def test_multi_pk_delete(spark, lake):
    # processStream.spec.ts:575-589
    e1 = engine(spark, lake)
    e1.run_file(f"{DATA}/stream_vanilla_with_pks.jsonl")
    assert rows(e1, "users", "id", "name") == [(1, "bill"), (2, "bill"), (3, "jack"), (4, "joe")]
    e2 = engine(spark, lake)
    e2.run_file(f"{DATA}/stream_vanilla_with_pks_and_deletion.jsonl")
    assert rows(e2, "users", "id", "name") == [(1, "bill"), (2, "bill"), (4, "joe")]


def test_short_insert_and_reorder_idempotence(spark, lake):
    # processStream.spec.ts:300-306 + 352-360
    e1 = engine(spark, lake)
    e1.run_file(f"{DATA}/stream_short.jsonl")
    df = e1.catalog.read("tickets").where("assignee_id = 11").select("brand_id")
    assert [tuple(r) for r in df.collect()] == [(22,)]
    h1 = table_hash(e1, "tickets")

    e2 = engine(spark, lake)
    e2.run_file(f"{DATA}/stream_short_reordered.jsonl")
    df = e2.catalog.read("tickets").where("assignee_id = 11").select("brand_id")
    assert [tuple(r) for r in df.collect()] == [(22,)]
    assert table_hash(e2, "tickets") == h1


def test_replay_convergence_content_hash(spark, lake):
    # processStream.spec.ts:364-402 (re-run => no duplicates), sha256 form
    e1 = engine(spark, lake)
    e1.run_file(f"{DATA}/stream_short.jsonl")
    hashes1 = {t: table_hash(e1, t) for t in e1.catalog.list_tables()}
    counts1 = {t: e1.catalog.row_count(t) for t in e1.catalog.list_tables()}

    e2 = engine(spark, lake)
    e2.run_file(f"{DATA}/stream_short.jsonl")
    hashes2 = {t: table_hash(e2, t) for t in e2.catalog.list_tables()}
    counts2 = {t: e2.catalog.row_count(t) for t in e2.catalog.list_tables()}
    assert counts1 == counts2
    assert hashes1 == hashes2


def test_nested_object_flatten(spark, lake):
    # processStream.spec.ts:356-362
    e = engine(spark, lake)
    e.run_file(f"{DATA}/stream_nested_object.jsonl")
    assert rows(e, "tickets", "follower_ids__name") == [("jack",)]


def test_nested_array_in_row(spark, lake):
    # processStream.spec.ts:91-106: format:"nested" array stays in-row
    e = engine(spark, lake)
    e.run_file(f"{DATA}/stream_schema_with_array.jsonl")
    got = rows(e, "query_log", "databases")
    assert got == [(["kento", "nanami"],)]


def test_all_pk_children(spark, lake):
    # processStream.spec.ts:529-560 (record with all_key_properties)
    e = engine(spark, lake)
    e.run_file(f"{DATA}/stream_short_with_all_pk.jsonl")
    assert e.catalog.row_count("tickets") == 1
    assert e.catalog.row_count("tickets__follower_ids") == 2
    cols = [f.name for f in e.catalog.snapshot("tickets__follower_ids").spark_schema.fields]
    assert cols[:3] == ["_root_id", "_parent_id", "_level_0_index"]


def test_scalar_array_child_rows(spark, lake):
    # stream_with_array: 5 roles over 4 users (spec 440-452)
    e = engine(spark, lake)
    e.run_file(f"{DATA}/stream_vanilla.jsonl")
    assert e.catalog.row_count("users") == 4
    e2 = engine(spark, lake)
    e2.run_file(f"{DATA}/stream_with_array.jsonl")
    assert e2.catalog.row_count("users__roles") == 5


# ------------------------------------------------------------------ evolution

def test_new_pks_throw(spark, lake):
    # processStream.spec.ts:456-463
    engine(spark, lake).run_file(f"{DATA}/stream_vanilla_with_pks.jsonl")
    with pytest.raises(PKConsistencyError):
        engine(spark, lake).run_file(f"{DATA}/stream_vanilla_with_new_pks.jsonl")


def test_removed_pks_throw(spark, lake):
    # processStream.spec.ts:465-472
    engine(spark, lake).run_file(f"{DATA}/stream_vanilla_with_pks.jsonl")
    with pytest.raises(PKConsistencyError):
        engine(spark, lake).run_file(f"{DATA}/stream_vanilla_with_removed_pks.jsonl")


def test_clean_first_allows_new_pks(spark, lake):
    # processStream.spec.ts:474-484
    engine(spark, lake).run_file(f"{DATA}/stream_vanilla_with_pks.jsonl")
    e = engine(spark, lake)
    e.run_file(f"{DATA}/stream_vanilla_with_new_pks_and_clean_first.jsonl")
    assert e.catalog.row_count("users") == 4


def test_schema_twice_is_noop(spark, lake):
    # processStream.spec.ts:126-132. NB the reference asserts 22 on
    # output.split("\n").length, which includes a trailing empty string —
    # the actual table count is 21 (its retirement test filters Boolean and
    # asserts 21).
    e1 = engine(spark, lake)
    e1.run_file(f"{DATA}/stream_1.jsonl")
    tables = e1.catalog.list_tables()
    assert len(tables) == 21
    e2 = engine(spark, lake)
    e2.run_file(f"{DATA}/stream_1.jsonl")
    assert e2.catalog.list_tables() == tables


def test_column_evolution_add_modify_drop(spark, lake):
    # processStream.spec.ts:135-173: stream_1 -> stream_1_modified
    e1 = engine(spark, lake)
    e1.run_file(f"{DATA}/stream_1.jsonl")
    e2 = engine(spark, lake)
    e2.run_file(f"{DATA}/stream_1_modified.jsonl")
    # changed schema applied without error; table count unchanged
    assert len(e2.catalog.list_tables()) == 21


# ------------------------------------------------------------ cleaning column

def test_cleaning_column_standard(spark, lake):
    # processStream.spec.ts:486-505
    engine(spark, lake).run_file(f"{DATA}/stream_vanilla.jsonl")
    e = engine(spark, lake)
    e.run_file(f"{DATA}/stream_cleaningColumn.jsonl")
    assert e.catalog.row_count("users") == 5
    bill = e.catalog.read("users").where("name = 'bill'").select("id").collect()
    assert [r["id"] for r in bill] == [7]


def test_cleaning_column_in_pk(spark, lake):
    # processStream.spec.ts:507-527
    e1 = engine(spark, lake)
    e1.run_file(f"{DATA}/stream_cleaningColumn_pk.jsonl")
    assert rows(e1, "users", "id", "name") == [(5, "bob"), (7, "bill"), (8, "bill"), (9, "helen")]
    e2 = engine(spark, lake)
    e2.run_file(f"{DATA}/stream_cleaningColumn_pk_2.jsonl")
    assert rows(e2, "users", "id", "name") == [(5, "bob"), (9, "helen"), (10, "bill")]


# ------------------------------------------------------------------ retirement

def test_active_streams_retirement(spark, lake):
    # processStream.spec.ts:192-258
    engine(spark, lake).run_file(f"{DATA}/stream_1.jsonl")
    e = engine(spark, lake)
    e.run_file(f"{DATA}/stream_1_inactive.jsonl")
    tables = e.catalog.list_tables()
    assert len(tables) == 21  # tickets dropped (1 table), 21 remain incl. renames
    for t in tables:
        if "ticket_audits" in t:
            assert not t.startswith("_dropped_")
        else:
            assert t.startswith("_dropped_"), t
    # idempotent: second pass doesn't double-prefix
    e2 = engine(spark, lake)
    e2.run_file(f"{DATA}/stream_1_inactive.jsonl")
    for t in e2.catalog.list_tables():
        assert not t.startswith("_dropped__dropped_"), t
    # archived tables are respected
    victim = next(t for t in e2.catalog.list_tables() if t.startswith("_dropped_ticket_metrics"))
    e2.catalog.rename_table(victim, victim.replace("_dropped_", "_archived_", 1))
    e3 = engine(spark, lake)
    e3.run_file(f"{DATA}/stream_1_inactive.jsonl")
    archived = [t for t in e3.catalog.list_tables() if t.startswith("_archived_")]
    assert archived and all("_dropped_" not in t for t in archived)


def test_extra_active_tables(spark, lake):
    # processStream.spec.ts:246-258
    engine(spark, lake, extra_active_tables=["tickets"]).run_file(f"{DATA}/stream_1.jsonl")
    e = engine(spark, lake, extra_active_tables=["tickets"])
    e.run_file(f"{DATA}/stream_1_inactive.jsonl")
    for t in e.catalog.list_tables():
        if "ticket_audits" in t or t.startswith("tickets"):
            assert not t.startswith("_dropped_"), t
        else:
            assert t.startswith("_dropped_"), t


# ----------------------------------------------------------------- state/misc

def test_state_written(spark, lake):
    # processStream.spec.ts:56-66: last state wins
    e = engine(spark, lake)
    e.run_file(f"{DATA}/stream_with_state.jsonl")
    assert e.read_state() == {"bookmarks": {}, "currently_syncing": None}


def test_record_before_schema_throws(spark, lake, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"type": "RECORD", "stream": "nope", "record": {"id": 1}}\n')
    with pytest.raises(RecordBeforeSchemaError):
        engine(spark, lake).run_file(str(p))


def test_incompatible_modify_throws(spark, lake):
    # processStream.spec.ts:260-265: schema update name string -> integer must
    # abort (values like "bill" are unrepresentable), leaving the table as-is.
    from singer_target_clickhouse_spark.lake.catalog import IncompatibleColumnModification

    engine(spark, lake).run_file(f"{DATA}/stream_vanilla.jsonl")
    with pytest.raises(IncompatibleColumnModification):
        engine(spark, lake).run_file(f"{DATA}/stream_vanilla_with_incompatible_update.jsonl")
    # aborted ALTER left data and schema untouched
    e = engine(spark, lake)
    assert rows(e, "users", "id", "name") == [(1, "bill"), (2, "bill"), (3, "jack"), (4, "joe")]
    assert any(
        c["name"] == "name" and "String" in c["type"]
        for c in e.catalog.snapshot("users").ch_columns
    )


def test_tombstone_keys_translated(spark, lake, tmp_path):
    # Delete-record keys go through the same value coercion as record keys
    # (reference DeletedRecordProcessor extractValue with translateValues):
    # a string-encoded key {"id": "5"} must delete the row keyed id=5.
    p = tmp_path / "del.jsonl"
    p.write_text(
        '{"type": "SCHEMA", "stream": "t", "schema": {"type": "object", "properties": '
        '{"id": {"type": "integer"}, "v": {"type": ["null", "string"]}}}, "key_properties": ["id"]}\n'
        '{"type": "RECORD", "stream": "t", "record": {"id": "5", "v": "a"}}\n'
        '{"type": "RECORD", "stream": "t", "record": {"id": "6", "v": "b"}}\n'
        '{"type": "DELETED_RECORD", "stream": "t", "record": {"id": "5"}}\n'
    )
    e = engine(spark, lake, translate_values=True)
    e.run_file(str(p))
    assert rows(e, "t", "id", "v") == [(6, "b")]


def test_cleaning_wipe_removes_child_rows(spark, lake, tmp_path):
    # A cleaning wipe rewrites root rows across ALL buckets; child rows of the
    # wiped roots must not survive (reference finalize deleteChildDuplicates).
    schema = (
        '{"type": "SCHEMA", "stream": "s", "schema": {"type": "object", "properties": '
        '{"id": {"type": "integer"}, "tag": {"type": ["null", "string"]}, '
        '"items": {"type": "array", "items": {"type": "object", "properties": '
        '{"x": {"type": ["null", "string"]}}}}}}, "key_properties": ["id"], '
        '"cleaning_column": "tag"}\n'
    )
    p1 = tmp_path / "c1.jsonl"
    p1.write_text(
        schema
        + '{"type": "RECORD", "stream": "s", "record": {"id": 1, "tag": "A", "items": [{"x": "x1"}, {"x": "x2"}]}}\n'
        + '{"type": "RECORD", "stream": "s", "record": {"id": 2, "tag": "B", "items": [{"x": "y1"}]}}\n'
    )
    engine(spark, lake).run_file(str(p1))
    p2 = tmp_path / "c2.jsonl"
    p2.write_text(
        schema
        + '{"type": "RECORD", "stream": "s", "record": {"id": 3, "tag": "A", "items": [{"x": "z1"}]}}\n'
    )
    e = engine(spark, lake)  # fresh run => cleaned-values set resets => wipe of A
    e.run_file(str(p2))
    assert rows(e, "s", "id") == [(2,), (3,)]
    assert rows(e, "s__items", "_root_id", "x") == [(2, "y1"), (3, "z1")]


def test_cleaning_falsy_values_skipped(spark, lake, tmp_path):
    # Reference wipes only for truthy cleaning values (record[cleaningColumn] &&):
    # 0 / "" / false never trigger a wipe.
    schema = (
        '{"type": "SCHEMA", "stream": "f", "schema": {"type": "object", "properties": '
        '{"id": {"type": "integer"}, "flag": {"type": ["null", "integer"]}}}, '
        '"key_properties": ["id"], "cleaning_column": "flag"}\n'
    )
    p1 = tmp_path / "f1.jsonl"
    p1.write_text(
        schema
        + '{"type": "RECORD", "stream": "f", "record": {"id": 1, "flag": 5}}\n'
        + '{"type": "RECORD", "stream": "f", "record": {"id": 2, "flag": 0}}\n'
    )
    engine(spark, lake).run_file(str(p1))
    p2 = tmp_path / "f2.jsonl"
    p2.write_text(
        schema
        + '{"type": "RECORD", "stream": "f", "record": {"id": 3, "flag": 0}}\n'
        + '{"type": "RECORD", "stream": "f", "record": {"id": 4, "flag": 5}}\n'
    )
    e = engine(spark, lake)
    e.run_file(str(p2))
    # flag=5 wiped id=1; flag=0 is falsy so id=2 survived
    assert rows(e, "f", "id") == [(2,), (3,), (4,)]


def test_cleaning_typed_timestamp_compare(spark, lake, tmp_path):
    # Typed cleaning columns must match on the translated value, not a string
    # cast (a stored timestamp never string-equals its JSON text form).
    schema = (
        '{"type": "SCHEMA", "stream": "ts", "schema": {"type": "object", "properties": '
        '{"id": {"type": "integer"}, "day": {"type": ["null", "string"], "format": "date-time"}}}, '
        '"key_properties": ["id"], "cleaning_column": "day"}\n'
    )
    p1 = tmp_path / "t1.jsonl"
    p1.write_text(
        schema
        + '{"type": "RECORD", "stream": "ts", "record": {"id": 1, "day": "2021-03-07T10:00:00Z"}}\n'
        + '{"type": "RECORD", "stream": "ts", "record": {"id": 2, "day": "2021-03-08T10:00:00Z"}}\n'
    )
    engine(spark, lake).run_file(str(p1))
    p2 = tmp_path / "t2.jsonl"
    p2.write_text(
        schema
        + '{"type": "RECORD", "stream": "ts", "record": {"id": 3, "day": "2021-03-07T10:00:00Z"}}\n'
    )
    e = engine(spark, lake)
    e.run_file(str(p2))
    # the wipe matched the stored timestamp for 2021-03-07: id=1 gone
    assert rows(e, "ts", "id") == [(2,), (3,)]


def test_line_offsets_jvm_side(spark, tmp_path):
    # with_line_offsets must reproduce zipWithIndex numbering with zero
    # Python in the row path (input_hint: no per-row Python).
    from singer_target_clickhouse_spark.engine import with_line_offsets

    p = tmp_path / "lines.txt"
    p.write_text("".join(f"line-{i}\n" for i in range(2000)))
    df, n = with_line_offsets(spark.read.text(str(p)))
    assert n == 2000
    got = {r["_seq"]: r["value"] for r in df.collect()}
    assert got == {i: f"line-{i}" for i in range(2000)}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "PythonRDD" not in plan


def test_upsert_latest_wins_across_runs(spark, lake, tmp_path):
    p1 = tmp_path / "a.jsonl"
    p1.write_text(
        '{"type": "SCHEMA", "stream": "t", "schema": {"type": "object", "properties": '
        '{"id": {"type": "integer"}, "v": {"type": ["null", "string"]}}}, "key_properties": ["id"]}\n'
        '{"type": "RECORD", "stream": "t", "record": {"id": 1, "v": "old"}}\n'
        '{"type": "RECORD", "stream": "t", "record": {"id": 2, "v": "keep"}}\n'
    )
    p2 = tmp_path / "b.jsonl"
    p2.write_text(
        '{"type": "SCHEMA", "stream": "t", "schema": {"type": "object", "properties": '
        '{"id": {"type": "integer"}, "v": {"type": ["null", "string"]}}}, "key_properties": ["id"]}\n'
        '{"type": "RECORD", "stream": "t", "record": {"id": 1, "v": "new"}}\n'
    )
    engine(spark, lake).run_file(str(p1))
    e = engine(spark, lake)
    e.run_file(str(p2))
    assert rows(e, "t", "id", "v") == [(1, "new"), (2, "keep")]
    # versions strictly increased across runs
    vers = dict(rows(e, "t", "id", "_ver"))
    assert vers[1] > vers[2]


def test_cleaning_json_string_zero_is_truthy(spark, lake, tmp_path):
    # JS falsiness is judged on the ACTUAL JSON value: the string "0" in an
    # integer-declared cleaning column is truthy (record[cleaningColumn] &&)
    # and must wipe; the number 0 stays falsy (advisor round 2).
    schema = (
        '{"type": "SCHEMA", "stream": "sz", "schema": {"type": "object", "properties": '
        '{"id": {"type": "integer"}, "flag": {"type": ["null", "integer"]}}}, '
        '"key_properties": ["id"], "cleaning_column": "flag"}\n'
    )
    p1 = tmp_path / "sz1.jsonl"
    p1.write_text(
        schema
        + '{"type": "RECORD", "stream": "sz", "record": {"id": 1, "flag": 0}}\n'
    )
    engine(spark, lake, translate_values=True).run_file(str(p1))
    p2 = tmp_path / "sz2.jsonl"
    p2.write_text(
        schema
        + '{"type": "RECORD", "stream": "sz", "record": {"id": 2, "flag": "0"}}\n'
    )
    e = engine(spark, lake, translate_values=True)
    e.run_file(str(p2))
    # the string "0" is truthy: it wiped every row whose flag translates to 0
    # (id=1), then id=2 was inserted
    assert rows(e, "sz", "id") == [(2,)]


def test_cleaning_value_cardinality_cap(spark, lake, tmp_path):
    schema = (
        '{"type": "SCHEMA", "stream": "hc", "schema": {"type": "object", "properties": '
        '{"id": {"type": "integer"}, "flag": {"type": ["null", "integer"]}}}, '
        '"key_properties": ["id"], "cleaning_column": "flag"}\n'
    )
    p = tmp_path / "hc.jsonl"
    p.write_text(
        schema
        + "".join(
            f'{{"type": "RECORD", "stream": "hc", "record": {{"id": {i}, "flag": {i}}}}}\n'
            for i in range(1, 6)
        )
    )
    with pytest.raises(ValueError, match="distinct values"):
        engine(spark, lake, max_cleaning_values=3).run_file(str(p))


def test_with_line_offsets_rejects_shuffled_input(spark, tmp_path):
    from pyspark.sql import functions as F
    from singer_target_clickhouse_spark.engine import with_line_offsets

    p = tmp_path / "lines2.txt"
    p.write_text("a\nb\nc\n")
    shuffled = spark.read.text(str(p)).repartition(4, F.col("value"))
    with pytest.raises(ValueError, match="Exchange"):
        with_line_offsets(shuffled)


def _mk_lines(spark, lines, base):
    return spark.createDataFrame(
        [(l, base + j) for j, l in enumerate(lines)], "value string, _seq long"
    )


def test_stats_pass_bucket_hint_replaces_touched_job(spark, lake, monkeypatch):
    # Once a stream's meta is known, the batch stats job computes the touched
    # buckets itself; the separate distinct+collect job must NOT run, and the
    # merge (including typed-key tombstones) must stay correct.
    import singer_target_clickhouse_spark.lake.catalog as cat_mod

    schema = json.dumps({
        "type": "SCHEMA", "stream": "bh", "schema": {"type": "object", "properties": {
            "id": {"type": "integer"}, "name": {"type": ["null", "string"]},
            "v": {"type": ["null", "integer"]}}},
        "key_properties": ["id", "name"]})
    e = engine(spark, lake, translate_values=True)
    recs1 = [json.dumps({"type": "RECORD", "stream": "bh",
                         "record": {"id": i, "name": f"n{i}", "v": 1}}) for i in range(10)]
    e.apply_lines(_mk_lines(spark, [schema] + recs1, 0))

    def no_touched_job(self, df, snap):
        raise AssertionError("touched_buckets job ran despite stats-pass hint")

    monkeypatch.setattr(cat_mod.LakeCatalog, "touched_buckets", no_touched_job)
    recs2 = [json.dumps({"type": "RECORD", "stream": "bh",
                         "record": {"id": i, "name": f"n{i}", "v": 2}}) for i in range(5)]
    # string-encoded keys in the delete must coerce identically to records
    dels = [json.dumps({"type": "DELETED_RECORD", "stream": "bh",
                        "record": {"id": "9", "name": "n9"}})]
    e.apply_lines(_mk_lines(spark, recs2 + dels, 100))
    got = sorted((r["id"], r["v"]) for r in e.catalog.read("bh").collect())
    assert got == [(i, 2) for i in range(5)] + [(i, 1) for i in range(5, 9)]


def test_replacing_batch_runs_two_jobs(spark, lake):
    # stats+control+buckets fold into ONE job, so a replacing single-node
    # batch is stats + merge-write = 2 Spark jobs. The bound is pinned so a
    # regression back to per-stream preamble jobs (or an extra merge-side
    # job) fails here.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        schema = json.dumps({
            "type": "SCHEMA", "stream": "jc", "schema": {"type": "object", "properties": {
                "id": {"type": "integer"}, "v": {"type": ["null", "integer"]}}},
            "key_properties": ["id"]})
        e = engine(spark, lake)
        recs1 = [json.dumps({"type": "RECORD", "stream": "jc",
                             "record": {"id": i, "v": 1}}) for i in range(10)]
        e.apply_lines(_mk_lines(spark, [schema] + recs1, 0))

        sc = spark.sparkContext
        sc.setJobGroup("steady-batch", "job-count probe", False)
        recs2 = [json.dumps({"type": "RECORD", "stream": "jc",
                             "record": {"id": i, "v": 2}}) for i in range(10)]
        e.apply_lines(_mk_lines(spark, recs2, 100))
        jobs = sc.statusTracker().getJobIdsForGroup("steady-batch")
        assert len(jobs) <= 2, f"expected <=2 jobs in steady-state batch, got {len(jobs)}"
    finally:
        spark.sparkContext.setJobGroup("", "", False)
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_child_batch_is_one_rewrite(spark, lake, monkeypatch):
    # A steady batch of a replacing root with one child: the child's batch
    # rows and its per-batch orphan delete go out in one bucket rewrite, so
    # the child commits one snapshot per batch, and the job count is pinned
    # like the single-table one above. The rewrite judges orphans from the
    # batch alone, so the root table is read once, by its own merge.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        schema = json.dumps({
            "type": "SCHEMA", "stream": "fc", "schema": {"type": "object", "properties": {
                "id": {"type": "integer"},
                "tags": {"type": ["null", "array"], "items": {"type": "object", "properties": {
                    "t": {"type": ["null", "string"]}}}}}},
            "key_properties": ["id"]})
        e = engine(spark, lake)

        def recs(v):
            return [json.dumps({"type": "RECORD", "stream": "fc",
                                "record": {"id": i, "tags": [{"t": f"{v}{i}"}]}}) for i in range(10)]

        e.apply_lines(_mk_lines(spark, [schema] + recs("a"), 0))
        child_snap = e.catalog.snapshot("fc__tags").snapshot_id

        reads = []
        orig_read = LakeCatalog.read

        def read(self, name, *args, **kwargs):
            reads.append(name)
            return orig_read(self, name, *args, **kwargs)

        monkeypatch.setattr(LakeCatalog, "read", read)
        sc = spark.sparkContext
        sc.setJobGroup("steady-child-batch", "job-count probe", False)
        e.apply_lines(_mk_lines(spark, recs("b"), 100))
        jobs = sc.statusTracker().getJobIdsForGroup("steady-child-batch")
        monkeypatch.undo()
        assert e.catalog.snapshot("fc__tags").snapshot_id == child_snap + 1
        assert len(jobs) <= 4, f"expected <=4 jobs in a steady child batch, got {len(jobs)}"
        assert sorted(reads) == ["fc", "fc__tags"]
        assert rows(e, "fc__tags", "_root_id", "t") == [(i, f"b{i}") for i in range(10)]
    finally:
        spark.sparkContext.setJobGroup("", "", False)
        spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.mark.parametrize("translate", [False, True])
def test_bucket_hint_flat_delete_keys_for_nested_path_pk(spark, lake, monkeypatch, translate):
    # A pk prop containing the nested-object separator is extracted NESTED
    # from records (shredder path walk) but FLAT from DELETED_RECORD payloads
    # (_tombstones). The stats-pass probe must use the flat schema for the
    # delete rows: a nested probe reads null from the flat key, hints the
    # wrong bucket, and the tombstone's real bucket is never rewritten — the
    # delete silently drops (advisor round 3). With translate_values on, the
    # string-encoded delete key must coerce to the record key's bucket.
    import singer_target_clickhouse_spark.lake.catalog as cat_mod
    from pyspark.sql import functions as F

    prop = "a$%€£b"  # NESTED_SUB_OBJECT_SEPARATOR inside the prop name
    schema = json.dumps({
        "type": "SCHEMA", "stream": "np", "schema": {"type": "object", "properties": {
            prop: {"type": "integer"}, "v": {"type": ["null", "string"]}}},
        "key_properties": [prop]})
    e = engine(spark, lake, translate_values=translate)
    recs = [json.dumps({"type": "RECORD", "stream": "np",
                        "record": {"a": {"b": i}, "v": "x"}}) for i in range(8)]
    e.apply_lines(_mk_lines(spark, [schema] + recs, 0))

    # victim whose true bucket (an integer key hashes as long) differs from
    # bucket(NULL) — the bucket a nested probe of the flat delete payload
    # would hint
    n_buckets = e.catalog.snapshot("np").n_buckets
    probe = spark.range(8).select(
        F.col("id").cast("int").alias("i"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)).cast("int").alias("b"),
        F.pmod(F.xxhash64(F.lit(None).cast("int")), F.lit(n_buckets)).cast("int").alias("nb"),
    ).collect()
    victim = next(r["i"] for r in probe if r["b"] != r["nb"])

    def no_touched_job(self, df, snap):
        raise AssertionError("touched_buckets job ran despite stats-pass hint")

    monkeypatch.setattr(cat_mod.LakeCatalog, "touched_buckets", no_touched_job)
    dels = [json.dumps({"type": "DELETED_RECORD", "stream": "np",
                        "record": {prop: str(victim) if translate else int(victim)}})]
    e.apply_lines(_mk_lines(spark, dels, 100))
    ids = sorted(r[0] for r in e.catalog.read("np").select("a__b").collect())
    assert ids == [i for i in range(8) if i != victim]


def test_mid_batch_second_schema_matches_sequential(spark, lake, tmp_path):
    # round-3 VERDICT #3: records straddling a second (evolving) SCHEMA inside
    # ONE micro-batch. The reference processes lines sequentially and IGNORES
    # a SCHEMA for an already-registered stream within a run
    # (processStream.ts:80-84 warn-and-skip); the engine applies control
    # before records but takes the same ignore path, so one-batch and
    # two-batch application must converge to the identical final state, with
    # all records (before AND after SCHEMA2) shredded under SCHEMA1's meta.
    def s(props, seq_unused=None):
        return json.dumps({
            "type": "SCHEMA", "stream": "ev",
            "schema": {"type": "object", "properties": props},
            "key_properties": ["id"]})

    props1 = {"id": {"type": "integer"},
              "kept": {"type": ["null", "string"]},
              "narrow": {"type": ["null", "integer"]}}
    # SCHEMA2 adds a column, widens narrow -> number, drops kept
    props2 = {"id": {"type": "integer"},
              "added": {"type": ["null", "string"]},
              "narrow": {"type": ["null", "number"]}}
    r1 = [json.dumps({"type": "RECORD", "stream": "ev",
                      "record": {"id": i, "kept": f"k{i}", "narrow": i}}) for i in range(3)]
    # post-SCHEMA2 records carry the NEW shape; under meta1 "added" is
    # unknown (dropped) and "kept" is absent (nulls)
    r2 = [json.dumps({"type": "RECORD", "stream": "ev",
                      "record": {"id": 10 + i, "added": "x", "narrow": 10 + i}}) for i in range(3)]

    lines = [s(props1)] + r1 + [s(props2)] + r2

    e_one = engine(spark, str(tmp_path / "one"))
    e_one.apply_lines(_mk_lines(spark, lines, 0))
    e_one.finalize()

    e_two = engine(spark, str(tmp_path / "two"))
    e_two.apply_lines(_mk_lines(spark, [s(props1)] + r1, 0))
    e_two.apply_lines(_mk_lines(spark, [s(props2)] + r2, len(r1) + 1))
    e_two.finalize()

    h1, h2 = table_hash(e_one, "ev"), table_hash(e_two, "ev")
    assert h1 == h2
    # SCHEMA2 was ignored in-run: the physical schema is still SCHEMA1's
    cols = {c["name"] for c in e_one.catalog.snapshot("ev").ch_columns}
    assert cols == {"id", "kept", "narrow", "_ver"}
    got = rows(e_one, "ev", "id", "kept")
    assert got == [(0, "k0"), (1, "k1"), (2, "k2"),
                   (10, None), (11, None), (12, None)]
    # a NEW run re-receiving SCHEMA2 evolves the table (add/widen/drop), the
    # already-tested cross-run path — state after equals the reference's ALTER
    e_next = engine(spark, str(tmp_path / "one"))
    e_next.apply_lines(_mk_lines(spark, [s(props2)], 100))
    cols = {c["name"] for c in e_next.catalog.snapshot("ev").ch_columns}
    assert cols == {"id", "added", "narrow", "_ver"}


def test_multi_stream_batch_merges_concurrently(spark, lake, tmp_path):
    # round-3 VERDICT #2: per-stream merges within one batch submit from a
    # bounded thread pool (the finalize pattern). Parity: concurrent and
    # serial application converge to identical content; evidence: the
    # batch record's stream entries name >=2 distinct pool threads for the
    # 3-stream batch, and replay convergence still holds.
    def mk(stream, n, base):
        schema = json.dumps({
            "type": "SCHEMA", "stream": stream,
            "schema": {"type": "object", "properties": {
                "id": {"type": "integer"}, "v": {"type": ["null", "string"]}}},
            "key_properties": ["id"]})
        recs = [json.dumps({"type": "RECORD", "stream": stream,
                            "record": {"id": i, "v": f"{stream}{i}"}}) for i in range(n)]
        return [schema] + recs

    lines = mk("s1", 40, 0) + mk("s2", 40, 0) + mk("s3", 40, 0)

    e_par = engine(spark, str(tmp_path / "par"), merge_concurrency=3)
    e_par.apply_lines(_mk_lines(spark, lines, 0))
    e_par.finalize()
    e_ser = engine(spark, str(tmp_path / "ser"), merge_concurrency=1)
    e_ser.apply_lines(_mk_lines(spark, lines, 0))
    e_ser.finalize()

    for t in ("s1", "s2", "s3"):
        assert table_hash(e_par, t) == table_hash(e_ser, t)

    recs = e_par.read_metrics().collect()
    assert len(recs) == 1
    threads = {s["thread"] for s in recs[0]["streams"]}
    assert len(threads) >= 2, f"expected overlapping pool threads, got {threads}"

    # replay of the same batch is a no-op under concurrency too
    h_before = [table_hash(e_par, t) for t in ("s1", "s2", "s3")]
    e_par.apply_lines(_mk_lines(spark, lines, 0))
    assert [table_hash(e_par, t) for t in ("s1", "s2", "s3")] == h_before


def test_per_batch_orphan_delete_leaves_no_orphans(spark, lake, monkeypatch):
    # Every batch's child rewrite drops the orphans of the root versions it
    # supersedes, across a multi-batch child-bearing replay with re-keyed
    # rows, so finalize has nothing left to delete and commits nothing.
    schema = json.dumps({
        "type": "SCHEMA", "stream": "po", "schema": {"type": "object", "properties": {
            "id": {"type": "integer"},
            "tags": {"type": "array", "items": {"type": "object", "properties": {
                "t": {"type": ["null", "string"]}}}}}},
        "key_properties": ["id"]})

    def batch(ver):
        return [json.dumps({"type": "RECORD", "stream": "po",
                            "record": {"id": i, "tags": [{"t": f"v{ver}a{i}"}, {"t": f"v{ver}b{i}"}]}})
                for i in range(6)]

    # one batch carrying two versions of key 0 with different child arrays,
    # and a delete of key 1, whose children earlier batches committed: the
    # per-batch rewrite judges orphans from the batch's own root rows
    last = [json.dumps({"type": "RECORD", "stream": "po",
                        "record": {"id": 0, "tags": [{"t": "x1"}, {"t": "x2"}, {"t": "x3"}]}}),
            json.dumps({"type": "RECORD", "stream": "po", "record": {"id": 0, "tags": [{"t": "y1"}]}}),
            json.dumps({"type": "DELETED_RECORD", "stream": "po", "record": {"id": 1}})]

    e = engine(spark, lake)
    e.apply_lines(_mk_lines(spark, [schema] + batch(1), 0))
    e.apply_lines(_mk_lines(spark, batch(2), 100))
    e.apply_lines(_mk_lines(spark, last, 200))
    commits = []
    monkeypatch.setattr(SingerEngine, "_commit", lambda self, snaps: commits.append(snaps))
    e.finalize()
    assert commits == []
    # superseded root versions must leave no child orphans
    child = e.catalog.read("po__tags")
    root_df = e.catalog.read("po")
    orphans = child.join(
        root_df.selectExpr("id as _root_id", "_ver as _root_ver"),
        ["_root_id", "_root_ver"], "left_anti").count()
    assert orphans == 0
    got = rows(e, "po__tags", "_root_id", "t")
    assert [t for i, t in got if i == 0] == ["y1"]
    assert [t for i, t in got if i == 1] == []
    assert got == sorted([(0, "y1")] + [(i, f"v2{x}{i}") for i in range(2, 6) for x in "ab"])


def test_multi_stream_pool_failure_aborts_batch(spark, lake, tmp_path):
    # Reference F4 under the merge pool: one stream failing mid-batch must
    # abort apply_lines (error propagates out of the pool), not be swallowed
    # by the other streams' successful merges.
    schema_ok = json.dumps({
        "type": "SCHEMA", "stream": "ok", "schema": {"type": "object", "properties": {
            "id": {"type": "integer"}}}, "key_properties": ["id"]})
    schema_bad = json.dumps({
        "type": "SCHEMA", "stream": "bad", "schema": {"type": "object", "properties": {
            "id": {"type": "integer"}, "tag": {"type": ["null", "string"]}}},
        "key_properties": ["id"], "cleaning_column": "tag"})
    ok = [json.dumps({"type": "RECORD", "stream": "ok", "record": {"id": i}}) for i in range(5)]
    # cleaning column with 3 distinct truthy values > cap of 2 => ValueError
    bad = [json.dumps({"type": "RECORD", "stream": "bad",
                       "record": {"id": i, "tag": f"t{i}"}}) for i in range(3)]
    e = engine(spark, lake, merge_concurrency=2, max_cleaning_values=2)
    with pytest.raises(ValueError, match="cleaning column"):
        e.apply_lines(_mk_lines(spark, [schema_ok, schema_bad] + ok + bad, 0))


def test_one_metrics_record_per_batch(spark, lake):
    # Each apply_lines call leaves exactly one line in _metrics/batches.jsonl,
    # even when a 4-stream batch merges from merge_concurrency pool threads:
    # the phases summed over those threads, and one lineage entry per stream
    # whose offset range is the batch's own.
    def mk(stream, n, tag):
        schema = json.dumps({
            "type": "SCHEMA", "stream": stream,
            "schema": {"type": "object", "properties": {
                "id": {"type": "integer"}, "v": {"type": ["null", "string"]}}},
            "key_properties": ["id"]})
        recs = [json.dumps({"type": "RECORD", "stream": stream,
                            "record": {"id": i, "v": f"{tag}{i}"}}) for i in range(n)]
        return [schema] + recs

    e = engine(spark, lake, merge_concurrency=4)
    base, bases = 0, []
    for batch in range(3):
        lines = sum((mk(f"s{k}", 25, f"b{batch}v") for k in range(4)), [])
        e.apply_lines(_mk_lines(spark, lines, base))
        bases.append(base)
        base += len(lines)
    with open(os.path.join(lake, "_metrics", "batches.jsonl")) as fh:
        raw = fh.readlines()
    assert len(raw) == 3
    for line, b in zip(raw, bases):
        r = json.loads(line)  # raises on a torn line
        assert r["run_id"] == e.run_id
        assert r["wall_start"] < r["wall_end"]
        assert {"stats_job", "commit_io", "vacuum", "engine_total"} <= set(r["phases"])
        # stream k's 25 records follow its SCHEMA line at offset 26 * k
        got = {s["table"]: (s["seq_lo"], s["seq_hi"], s["rows_in_touched_buckets"])
               for s in r["streams"]}
        assert got == {f"s{k}": (b + 26 * k + 1, b + 26 * k + 25, 25) for k in range(4)}


def test_keyless_lineage_counts_batch_rows(spark, lake):
    # An append-only root has no touched buckets: its lineage must count the
    # rows this batch appended (read from the files it added), not the table.
    schema = json.dumps({
        "type": "SCHEMA", "stream": "kl", "schema": {"type": "object", "properties": {
            "v": {"type": ["null", "integer"]}}},
        "key_properties": []})

    def recs(n):
        return [json.dumps({"type": "RECORD", "stream": "kl", "record": {"v": i}})
                for i in range(n)]

    e = engine(spark, lake)
    e.apply_lines(_mk_lines(spark, [schema] + recs(3), 0))
    e.apply_lines(_mk_lines(spark, recs(2), 100))
    got = [r["streams"][0]["rows_in_touched_buckets"] for r in e.read_metrics().collect()]
    assert got == [3, 2]
    assert e.catalog.row_count("kl") == 5
