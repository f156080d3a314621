"""One catalog store for every schema object other than a table
(``Catalog.objects``): DROP SCHEMA/DATABASE cascade over every kind,
SHOW and INFORMATION_SCHEMA scope and freshness, one DROP IF EXISTS
reply, and dynamic-table definitions that follow their table."""

import logging
import os

import pytest

from snowflake_emulator_spark import errors
from snowflake_emulator_spark.executor import SessionContext


def _run(engine, ctx, *stmts):
    res = None
    for sql in stmts:
        res = engine.execute(sql, ctx)
    return res


def _col(res, i=0):
    return [r[i] for r in res.rows]


def test_drop_schema_drops_stages_file_formats_and_pipes(engine):
    ctx = SessionContext()
    _run(engine, ctx, "CREATE DATABASE D2", "CREATE SCHEMA D2.S",
         "CREATE TABLE D2.S.T (X INT)", "CREATE STAGE D2.S.STG1",
         "CREATE FILE FORMAT D2.S.FF1 TYPE = CSV",
         "CREATE PIPE D2.S.P1 AS COPY INTO D2.S.T FROM @D2.S.STG1")
    stage_dir = os.path.join(engine.catalog.base_dir, "_stages", "D2", "S", "STG1")
    assert os.path.isdir(stage_dir)
    _run(engine, ctx, "DROP SCHEMA D2.S", "CREATE SCHEMA D2.S")
    assert not os.path.exists(stage_dir)
    for sql in ("SHOW STAGES IN SCHEMA D2.S", "SHOW FILE FORMATS IN ACCOUNT",
                "SHOW PIPES IN SCHEMA D2.S"):
        assert _run(engine, ctx, sql).rows == [], sql
    # the names are free again
    _run(engine, ctx, "CREATE TABLE D2.S.T (X INT)", "CREATE STAGE D2.S.STG1",
         "CREATE FILE FORMAT D2.S.FF1 TYPE = CSV",
         "CREATE PIPE D2.S.P1 AS COPY INTO D2.S.T FROM @D2.S.STG1")


def test_drop_database_drops_its_pipes(engine):
    ctx = SessionContext()
    _run(engine, ctx, "CREATE DATABASE D2", "CREATE TABLE D2.PUBLIC.T (X INT)",
         "CREATE PIPE D2.PUBLIC.P1 AS COPY INTO D2.PUBLIC.T FROM @D2.PUBLIC.STG",
         "DROP DATABASE D2")
    assert _run(engine, ctx, "SHOW PIPES IN ACCOUNT").rows == []


def test_drop_database_deregisters_its_python_udfs(engine):
    ctx = SessionContext()
    _run(engine, ctx, "CREATE DATABASE D2",
         "CREATE FUNCTION D2.PUBLIC.PY1(A NUMBER) RETURNS NUMBER LANGUAGE PYTHON "
         "HANDLER = 'f' AS $$\ndef f(a):\n    return a + 1\n$$")
    spark_name = engine.catalog.get("FUNCTION", "D2.PUBLIC.PY1").spark_name
    assert engine.spark.catalog.functionExists(spark_name)
    _run(engine, ctx, "DROP DATABASE D2")
    assert not engine.spark.catalog.functionExists(spark_name)


def test_dropped_schema_leaves_no_dynamic_table_definition(engine):
    ctx = SessionContext()
    _run(engine, ctx, "CREATE TABLE SRC (X INT)", "INSERT INTO SRC VALUES (1), (2)",
         "CREATE SCHEMA S2",
         "CREATE DYNAMIC TABLE S2.DT TARGET_LAG = '1 minute' WAREHOUSE = W "
         "AS SELECT X FROM TEST_DB.PUBLIC.SRC",
         "DROP SCHEMA S2", "CREATE SCHEMA S2", "CREATE TABLE S2.DT (X INT)",
         "INSERT INTO S2.DT VALUES (42)")
    for sql in ("ALTER DYNAMIC TABLE S2.DT REFRESH",
                "ALTER MATERIALIZED VIEW S2.DT REFRESH"):
        with pytest.raises(errors.SnowflakeError, match="is not a"):
            _run(engine, ctx, sql)
    assert _col(_run(engine, ctx, "SELECT X FROM S2.DT")) == [42]
    assert _run(engine, ctx, "SHOW DYNAMIC TABLES IN ACCOUNT").rows == []


def test_refresh_checks_the_table_kind(engine):
    ctx = SessionContext()
    _run(engine, ctx, "CREATE TABLE SRC (X INT)", "INSERT INTO SRC VALUES (1)",
         "CREATE DYNAMIC TABLE DT AS SELECT X FROM SRC",
         "CREATE MATERIALIZED VIEW MV AS SELECT X FROM SRC")
    with pytest.raises(errors.SnowflakeError, match="DT is not a materialized view"):
        _run(engine, ctx, "ALTER MATERIALIZED VIEW DT REFRESH")
    with pytest.raises(errors.SnowflakeError, match="MV is not a dynamic table"):
        _run(engine, ctx, "ALTER DYNAMIC TABLE MV REFRESH")
    with pytest.raises(errors.SnowflakeError, match="SRC is not a dynamic table"):
        _run(engine, ctx, "ALTER DYNAMIC TABLE SRC REFRESH")


def test_renamed_dynamic_table_keeps_its_definition(engine):
    ctx = SessionContext()
    _run(engine, ctx, "CREATE TABLE SRC (X INT)", "INSERT INTO SRC VALUES (1), (2)",
         "CREATE DYNAMIC TABLE DT1 TARGET_LAG = '5 minutes' WAREHOUSE = W "
         "AS SELECT X FROM SRC",
         "ALTER TABLE DT1 RENAME TO DT2", "INSERT INTO SRC VALUES (3)",
         "ALTER DYNAMIC TABLE DT2 REFRESH")
    assert _col(_run(engine, ctx, "SELECT X FROM DT2 ORDER BY X")) == [1, 2, 3]
    res = _run(engine, ctx, "SHOW DYNAMIC TABLES LIKE 'DT2'")
    assert res.rows == [["DT2", "TEST_DB", "PUBLIC", "5 minutes", "SELECT X FROM SRC", None]]


# kind -> (CREATE of OBJ1 in D2.S, SHOW plural, SHOW columns,
# INFORMATION_SCHEMA view and its columns or None)
_KINDS = {
    "VIEW": ("CREATE VIEW D2.S.OBJ1 AS SELECT X FROM D2.S.T", "VIEWS",
             ["name", "database_name", "schema_name", "text", "comment"],
             ("VIEWS", ["table_catalog", "table_schema", "table_name", "view_definition"])),
    "STREAM": ("CREATE STREAM D2.S.OBJ1 ON TABLE D2.S.T", "STREAMS",
               ["name", "database_name", "schema_name", "table_name", "mode", "comment"],
               ("STREAMS", ["stream_catalog", "stream_schema", "stream_name", "table_name",
                            "mode", "comment"])),
    "TASK": ("CREATE TASK D2.S.OBJ1 SCHEDULE = '1 minute' AS SELECT 1", "TASKS",
             ["name", "database_name", "schema_name", "schedule", "state", "warehouse",
              "definition", "comment"],
             ("TASKS", ["task_catalog", "task_schema", "task_name", "schedule", "state",
                        "definition", "comment"])),
    "SEQUENCE": ("CREATE SEQUENCE D2.S.OBJ1 START = 5", "SEQUENCES",
                 ["name", "database_name", "schema_name", "start", "increment"],
                 ("SEQUENCES", ["sequence_catalog", "sequence_schema", "sequence_name",
                                "start_value", "increment"])),
    "FUNCTION": ("CREATE FUNCTION D2.S.OBJ1(A NUMBER) RETURNS NUMBER AS 'A + 1'", "FUNCTIONS",
                 ["name", "database_name", "schema_name", "arguments", "language", "comment"],
                 ("FUNCTIONS", ["function_catalog", "function_schema", "function_name",
                                "argument_signature", "data_type", "function_language",
                                "function_definition", "comment"])),
    "PROCEDURE": ("CREATE PROCEDURE D2.S.OBJ1() RETURNS NUMBER AS $$ BEGIN RETURN 1; END $$",
                  "PROCEDURES",
                  ["name", "schema_name", "database_name", "arguments", "language"], None),
    "MASKING POLICY": ("CREATE MASKING POLICY D2.S.OBJ1 AS (V STRING) RETURNS STRING -> '***'",
                       "MASKING POLICIES",
                       ["name", "database_name", "schema_name", "signature", "return_type",
                        "body", "comment"], None),
    "ROW ACCESS POLICY": ("CREATE ROW ACCESS POLICY D2.S.OBJ1 AS (V NUMBER) "
                          "RETURNS BOOLEAN -> TRUE", "ROW ACCESS POLICIES",
                          ["name", "database_name", "schema_name", "signature",
                           "return_type", "body", "comment"], None),
    "STAGE": ("CREATE STAGE D2.S.OBJ1", "STAGES",
              ["name", "database_name", "schema_name"], None),
    "FILE FORMAT": ("CREATE FILE FORMAT D2.S.OBJ1 TYPE = CSV", "FILE FORMATS",
                    ["name", "type"], None),
    "PIPE": ("CREATE PIPE D2.S.OBJ1 AS COPY INTO D2.S.T FROM @D2.S.STG", "PIPES",
             ["name", "database_name", "schema_name", "definition"],
             ("PIPES", ["pipe_catalog", "pipe_schema", "pipe_name", "definition"])),
}


def test_every_object_kind_is_covered():
    from snowflake_emulator_spark.catalog import OBJECT_KINDS

    assert set(_KINDS) == set(OBJECT_KINDS)


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_show_and_information_schema_scope(engine, kind):
    create, plural, columns, info = _KINDS[kind]
    ctx = SessionContext()  # TEST_DB.PUBLIC
    _run(engine, ctx, "CREATE DATABASE D2", "CREATE SCHEMA D2.S", "CREATE TABLE D2.S.T (X INT)")
    if info is not None:
        # read (and cache) the view before the CREATE: the CREATE must
        # make the next read rebuild it
        view, info_cols = info
        query = f"SELECT * FROM D2.INFORMATION_SCHEMA.{view} WHERE {info_cols[2]} = 'OBJ1'"
        assert _run(engine, ctx, query).rows == []
    _run(engine, ctx, create)
    show = f"SHOW {plural} LIKE 'OBJ1'"
    for scope, n in (("", 0), (" IN SCHEMA TEST_DB.PUBLIC", 0), (" IN DATABASE TEST_DB", 0),
                     (" IN SCHEMA D2.S", 1), (" IN DATABASE D2", 1), (" IN ACCOUNT", 1)):
        res = _run(engine, ctx, show + scope)
        assert res.columns == columns
        assert len(res.rows) == n, show + scope
    assert len(_run(engine, SessionContext("D2", "S"), show).rows) == 1
    if info is not None:
        res = _run(engine, ctx, query)
        assert res.columns == info_cols
        assert len(res.rows) == 1


@pytest.mark.parametrize("kind", ["TABLE", "DYNAMIC TABLE", "MATERIALIZED VIEW", *sorted(_KINDS)])
def test_drop_if_exists_of_a_missing_object(engine, kind):
    res = engine.execute(f"DROP {kind} IF EXISTS NOPE", SessionContext())
    assert res.rows == [["Drop statement executed successfully (NOPE already dropped)."]]


def test_drop_reply_names_the_object(engine):
    ctx = SessionContext()
    res = _run(engine, ctx, "CREATE DATABASE D2", "CREATE STAGE D2.PUBLIC.STG",
               "DROP STAGE D2.PUBLIC.STG")
    assert res.rows == [["STG successfully dropped."]]
    with pytest.raises(errors.SnowflakeError) as e:
        _run(engine, ctx, "DROP STAGE D2.PUBLIC.STG")
    assert e.value.code == "002043"


def test_failed_analysis_logs_no_query_context(engine):
    from pyspark.logger import PySparkLogger

    records = []

    class Sink(logging.Handler):
        def emit(self, record):
            records.append(record)

    sink = Sink()
    loggers = [PySparkLogger.getLogger(n)
               for n in ("SQLQueryContextLogger", "DataFrameQueryContextLogger")]
    for lg in loggers:
        lg.addHandler(sink)
    try:
        with pytest.raises(errors.SnowflakeError) as e:
            engine.execute("SET V = NOSUCHCOL", SessionContext())
        assert e.value.code == "000904"
    finally:
        for lg in loggers:
            lg.removeHandler(sink)
    assert records == []
