"""INFORMATION_SCHEMA views (reference parity: its DuckDB backend
answers information_schema.tables queries —
pkg/contentdata/repository_test.go:69 — here rebuilt from catalog
metadata with Snowflake-style logical names, scoped per database)."""

from snowflake_emulator_spark.executor import SessionContext


def _rows(res):
    return [tuple(r) for r in res.rows]


def test_information_schema_tables_and_columns(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE is_t (id INTEGER NOT NULL, name VARCHAR)", ctx)
    res = engine.execute(
        "SELECT count(*) AS n FROM information_schema.tables WHERE table_name = 'IS_T'", ctx)
    assert _rows(res) == [(1,)]
    res = engine.execute(
        "SELECT column_name, ordinal_position, data_type, is_nullable "
        "FROM information_schema.columns WHERE table_name = 'IS_T' ORDER BY ordinal_position",
        ctx)
    rows = _rows(res)
    assert rows[0][0] == "ID" and rows[0][1] == 1 and rows[0][3] == "NO"
    assert rows[1][0] == "NAME" and rows[1][3] == "YES"
    # dropping removes the row (mutation-keyed cache invalidation)
    engine.execute("DROP TABLE is_t", ctx)
    res = engine.execute(
        "SELECT count(*) AS n FROM information_schema.tables WHERE table_name = 'IS_T'", ctx)
    assert _rows(res) == [(0,)]


def test_information_schema_views_and_qualified(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE is_b (id INTEGER)", ctx)
    engine.execute("CREATE VIEW is_v AS SELECT id FROM is_b", ctx)
    res = engine.execute(
        "SELECT table_type FROM information_schema.tables WHERE table_name = 'IS_V'", ctx)
    assert _rows(res) == [("VIEW",)]
    res = engine.execute(
        "SELECT view_definition FROM TEST_DB.INFORMATION_SCHEMA.VIEWS "
        "WHERE table_name = 'IS_V'", ctx)
    assert "SELECT id FROM is_b" in res.rows[0][0]
    res = engine.execute(
        "SELECT count(*) AS n FROM information_schema.schemata WHERE schema_name = 'PUBLIC'", ctx)
    assert _rows(res) == [(1,)]
    res = engine.execute(
        "SELECT count(*) AS n FROM information_schema.databases WHERE database_name = 'TEST_DB'",
        ctx)
    assert _rows(res) == [(1,)]


def test_info_schema_streams_tasks_sequences(engine):
    from snowflake_emulator_spark.executor import SessionContext

    ctx = SessionContext()
    engine.execute("CREATE TABLE ist (id INTEGER)", ctx)
    engine.execute("CREATE STREAM ist_s ON TABLE ist", ctx)
    engine.execute("CREATE TASK ist_t SCHEDULE = '1 HOUR' AS SELECT 1", ctx)
    engine.execute("CREATE SEQUENCE ist_q START = 5 INCREMENT = 2", ctx)
    r = engine.execute("SELECT stream_name, mode FROM INFORMATION_SCHEMA.STREAMS", ctx)
    assert ("IST_S", "DEFAULT") in [tuple(x) for x in r.rows]
    r = engine.execute(
        "SELECT task_name, schedule, state FROM INFORMATION_SCHEMA.TASKS", ctx)
    assert ("IST_T", "1 HOUR", "suspended") in [tuple(x) for x in r.rows]
    r = engine.execute(
        "SELECT sequence_name, start_value, increment FROM INFORMATION_SCHEMA.SEQUENCES", ctx)
    assert ("IST_Q", 5, 2) in [tuple(x) for x in r.rows]


def test_info_schema_functions(engine):
    from snowflake_emulator_spark.executor import SessionContext

    ctx = SessionContext()
    engine.execute(
        "CREATE FUNCTION isf_double(x NUMBER) RETURNS NUMBER AS 'x * 2'", ctx)
    r = engine.execute(
        "SELECT function_name, argument_signature, data_type, function_language "
        "FROM INFORMATION_SCHEMA.FUNCTIONS", ctx)
    assert ("ISF_DOUBLE", "NUMBER", "NUMBER", "SQL") in [tuple(x) for x in r.rows]


def test_info_schema_pipes_and_table_kinds(engine, tmp_path):
    """information_schema.pipes lists pipe definitions; .tables carries
    Snowflake table_type values for temporary/external/transient."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE isk_base (id INTEGER)", ctx)
    engine.execute("CREATE TEMPORARY TABLE isk_tmp (id INTEGER)", ctx)
    engine.execute("CREATE TRANSIENT TABLE isk_tr (id INTEGER)", ctx)
    engine.execute("CREATE STAGE isk_s", ctx)
    p = tmp_path / "one.csv"
    p.write_text("1\n")
    engine.stages.put_file(engine.catalog.get("STAGE", "isk_s"), str(p))
    engine.execute(
        "CREATE PIPE isk_p AS COPY INTO isk_base FROM @isk_s "
        "FILE_FORMAT=(TYPE=CSV)", ctx)
    rows = _rows(engine.execute(
        "SELECT table_name, table_type, is_transient "
        "FROM information_schema.tables WHERE table_name LIKE 'ISK%' "
        "ORDER BY table_name", ctx))
    assert ("ISK_BASE", "BASE TABLE", "NO") in rows
    assert ("ISK_TMP", "LOCAL TEMPORARY", "NO") in rows
    assert ("ISK_TR", "BASE TABLE", "YES") in rows
    rows = _rows(engine.execute(
        "SELECT pipe_name, definition FROM information_schema.pipes", ctx))
    assert any(r[0] == "ISK_P" and "COPY INTO" in r[1] for r in rows)
