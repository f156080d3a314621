"""Regression suite for the r4 catalog/COPY/MERGE review findings."""

import json
import os

import pytest

from snowflake_emulator_spark.sessions import SessionContext


def _rows(res):
    return [tuple(r) for r in res.rows]


def test_rollback_then_copy_does_not_resurrect_rows(engine, tmp_path):
    """A rolled-back INSERT leaves an abandoned version dir; the next
    pinned-path COPY must not resurrect its rows (the fast-append used
    to reuse the dir without clearing it)."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE rb_t (id INTEGER, v VARCHAR)", ctx)
    engine.execute("INSERT INTO rb_t VALUES (1, 'keep')", ctx)
    engine.execute("BEGIN", ctx)
    engine.execute("INSERT INTO rb_t VALUES (99, 'rolled_back')", ctx)
    engine.execute("ROLLBACK", ctx)
    assert _rows(engine.execute("SELECT * FROM rb_t ORDER BY id", ctx)) == [(1, "keep")]
    # open a NEW transaction so the current version is pinned, then COPY
    engine.execute("CREATE STAGE rb_stage", ctx)
    f = tmp_path / "rb.csv"
    f.write_text("2,copied\n")
    engine.stages.put_file(engine.catalog.get("STAGE", "rb_stage", ctx.database, ctx.schema), str(f))
    engine.execute("BEGIN", ctx)
    engine.execute("COPY INTO rb_t FROM @rb_stage/rb.csv", ctx)
    engine.execute("COMMIT", ctx)
    got = _rows(engine.execute("SELECT * FROM rb_t ORDER BY id", ctx))
    assert got == [(1, "keep"), (2, "copied")]   # 99 must NOT reappear


def test_insert_too_many_values_raises(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE tm_t (a INTEGER, b INTEGER)", ctx)
    with pytest.raises(Exception, match="more expressions"):
        engine.execute("INSERT INTO tm_t VALUES (1, 2, 3)", ctx)
    assert engine.execute("SELECT count(*) AS n FROM tm_t", ctx).rows[0][0] == 0


def test_copy_ndjson_stage_file(engine, tmp_path):
    """Newline-delimited JSON (the common stage layout) loads one row
    per document instead of failing with 'Extra data'."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE nd_t (v VARIANT)", ctx)
    engine.execute("CREATE STAGE nd_stage", ctx)
    f = tmp_path / "docs.json"
    f.write_text('{"a":1}\n{"a":2}\n{"a":3}\n')
    engine.stages.put_file(engine.catalog.get("STAGE", "nd_stage", ctx.database, ctx.schema), str(f))
    res = engine.execute("COPY INTO nd_t FROM @nd_stage/docs.json "
                         "FILE_FORMAT=(TYPE=JSON)", ctx)
    assert res.rows_loaded == 3
    vals = sorted(json.loads(r[0])["a"] for r in
                  engine.execute("SELECT v FROM nd_t", ctx).rows)
    assert vals == [1, 2, 3]


def test_copy_null_if_list_option(engine, tmp_path):
    """NULL_IF=('NULL','N/A'): the parenthesized list survives option
    parsing (the old regex stopped at the inner ')')."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE ni_t (id INTEGER, v VARCHAR)", ctx)
    engine.execute("CREATE STAGE ni_stage", ctx)
    f = tmp_path / "ni.csv"
    f.write_text("1,NULL\n2,N/A\n3,ok\n")
    engine.stages.put_file(engine.catalog.get("STAGE", "ni_stage", ctx.database, ctx.schema), str(f))
    engine.execute("COPY INTO ni_t FROM @ni_stage/ni.csv "
                   "FILE_FORMAT=(TYPE=CSV NULL_IF=('NULL','N/A'))", ctx)
    got = dict(_rows(engine.execute("SELECT id, v FROM ni_t", ctx)))
    assert got == {1: None, 2: None, 3: "ok"}


def test_copy_validation_mode_never_loads(engine, tmp_path):
    ctx = SessionContext()
    engine.execute("CREATE TABLE vm_t (id INTEGER)", ctx)
    engine.execute("CREATE STAGE vm_stage", ctx)
    f = tmp_path / "vm.csv"
    f.write_text("1\n2\n")
    engine.stages.put_file(engine.catalog.get("STAGE", "vm_stage", ctx.database, ctx.schema), str(f))
    for mode in ("RETURN_ERRORS", "RETURN_ALL_ERRORS", "RETURN_2_ROWS"):
        engine.execute(
            f"COPY INTO vm_t FROM @vm_stage/vm.csv VALIDATION_MODE='{mode}'", ctx)
        assert engine.execute(
            "SELECT count(*) AS n FROM vm_t", ctx).rows[0][0] == 0, mode


def test_copy_pattern_is_anchored(engine, tmp_path):
    ctx = SessionContext()
    engine.execute("CREATE TABLE pt_t (id INTEGER)", ctx)
    engine.execute("CREATE STAGE pt_stage", ctx)
    (tmp_path / "a.csv").write_text("1\n")
    (tmp_path / "a.csv.bak").write_text("99\n")
    stage = engine.catalog.get("STAGE", "pt_stage", ctx.database, ctx.schema)
    engine.stages.put_file(stage, str(tmp_path / "a.csv"))
    engine.stages.put_file(stage, str(tmp_path / "a.csv.bak"))
    res = engine.execute("COPY INTO pt_t FROM @pt_stage PATTERN='a[.]csv'", ctx)
    assert res.files_loaded == 1
    assert _rows(engine.execute("SELECT * FROM pt_t", ctx)) == [(1,)]


def test_drop_database_clears_schema_objects(engine):
    """DROP DATABASE must remove views/streams/sequences/functions in
    it — a recreated database previously inherited stale objects that
    blocked same-named tables."""
    ctx = SessionContext()
    engine.execute("CREATE DATABASE dropdb", ctx)
    engine.execute("USE DATABASE dropdb", ctx)
    engine.execute("CREATE TABLE dd_t (id INTEGER)", ctx)
    engine.execute("CREATE VIEW dd_v AS SELECT id FROM dd_t", ctx)
    engine.execute("CREATE SEQUENCE dd_seq", ctx)
    engine.execute("CREATE FUNCTION dd_f(x NUMBER) RETURNS NUMBER AS 'x'", ctx)
    engine.execute("USE DATABASE test_db", ctx)
    engine.execute("DROP DATABASE dropdb", ctx)
    engine.execute("CREATE DATABASE dropdb", ctx)
    engine.execute("USE DATABASE dropdb", ctx)
    # same-named TABLE creation must not be blocked by a stale view
    engine.execute("CREATE TABLE dd_v (id INTEGER)", ctx)
    assert engine.execute("SHOW VIEWS", ctx).rows == []
    assert engine.execute("SHOW SEQUENCES", ctx).rows == []
    assert all(r[1] != "DROPDB" for r in
               engine.execute("SHOW USER FUNCTIONS", ctx).rows)
    engine.execute("USE DATABASE test_db", ctx)


def test_merge_into_external_table_raises_cleanly(engine, spark):
    """Writes to EXTERNAL (fixture-mounted) tables raise a proper
    SnowflakeError, not a bare AssertionError."""
    from snowflake_emulator_spark import errors as err
    from snowflake_emulator_spark.catalog import TableMeta

    ctx = SessionContext()
    tm = engine.catalog.register_external_parquet(
        "ext_ro", "/root/testdata/sf0.001/region.parquet",
        ctx.database, ctx.schema)
    with pytest.raises(err.SnowflakeError, match="external"):
        engine.catalog.write_table(
            tm, spark.createDataFrame([(1,)], "a int"))
