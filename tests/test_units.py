"""Fast non-Spark unit tests: classifier, naming, typemap, bindings,
COPY/MERGE parsers, warehouse state machine, sessions, statements."""

import pytest

from snowflake_emulator_spark import config, errors
from snowflake_emulator_spark.functions.typemap import (
    snowflake_to_spark,
    snowflake_to_spark_ddl,
    spark_to_snowflake_name,
)
from snowflake_emulator_spark.naming import normalize_ident, physical_name, split_qualified
from snowflake_emulator_spark.operators.copy_into import parse_copy
from snowflake_emulator_spark.operators.merge_into import parse_merge
from snowflake_emulator_spark.plans.bindings import apply_bindings, format_binding_value
from snowflake_emulator_spark.plans.classifier import StatementType, classify
from snowflake_emulator_spark.sessions import SessionManager, extract_token
from snowflake_emulator_spark.warehouse import WarehouseManager
from pyspark.sql import types as T


# ---- classifier (reference: pkg/query/classifier.go:44-147) ----

@pytest.mark.parametrize("sql,stype,tid", [
    ("SELECT 1", StatementType.QUERY, 1),
    ("  select * from t", StatementType.QUERY, 1),
    ("SHOW TABLES", StatementType.QUERY, 1),
    ("DESCRIBE TABLE t", StatementType.QUERY, 1),
    ("EXPLAIN SELECT 1", StatementType.QUERY, 1),
    ("WITH x AS (SELECT 1) SELECT * FROM x", StatementType.QUERY, 1),
    ("CREATE TABLE t (id INT)", StatementType.DDL_CREATE, 4),
    ("DROP TABLE t", StatementType.DDL_DROP, 5),
    ("ALTER TABLE t ADD COLUMN c INT", StatementType.DDL_ALTER, 4),
    ("COPY INTO t FROM @s", StatementType.COPY, 3),
    ("MERGE INTO t USING s ON t.id=s.id WHEN MATCHED THEN DELETE", StatementType.MERGE, 3),
    ("BEGIN", StatementType.TRANSACTION, 3),
    ("START TRANSACTION", StatementType.TRANSACTION, 3),
    ("COMMIT", StatementType.TRANSACTION, 3),
    ("ROLLBACK", StatementType.TRANSACTION, 3),
    ("INSERT INTO t VALUES (1)", StatementType.DML, 2),
    ("UPDATE t SET a=1", StatementType.DML, 3),
    ("DELETE FROM t", StatementType.DML, 3),
])
def test_classify(sql, stype, tid):
    r = classify(sql)
    assert r.type == stype
    assert r.statement_type_id == tid


# ---- naming (reference: pkg/query/table_naming.go:23-40) ----

def test_normalize_ident():
    assert normalize_ident("foo") == "FOO"
    assert normalize_ident('"MiXeD"') == "MiXeD"


def test_split_qualified():
    assert split_qualified("t") == (config.DEFAULT_DATABASE, config.DEFAULT_SCHEMA, "T")
    assert split_qualified("s.t") == (config.DEFAULT_DATABASE, "S", "T")
    assert split_qualified("d.s.t") == ("D", "S", "T")
    assert split_qualified("t", "mydb", "mysch") == ("MYDB", "MYSCH", "T")


def test_physical_name():
    assert physical_name("db", "sch", "t") == "DB__SCH__T"


# ---- typemap (reference maps, SURVEY §1.3) ----

@pytest.mark.parametrize("sf,spark_t", [
    ("NUMBER(10,2)", T.DecimalType(10, 2)),
    ("DECIMAL", T.DecimalType(38, 0)),
    ("INT", T.IntegerType()),
    ("BIGINT", T.LongType()),
    ("FLOAT", T.DoubleType()),
    ("REAL", T.FloatType()),
    ("VARCHAR(255)", T.StringType()),
    ("STRING", T.StringType()),
    ("BOOLEAN", T.BooleanType()),
    ("DATE", T.DateType()),
    ("TIMESTAMP", T.TimestampNTZType()),
    ("TIMESTAMP_TZ", T.TimestampType()),
    ("VARIANT", T.StringType()),
    ("OBJECT", T.StringType()),
    ("ARRAY", T.StringType()),
    ("BINARY", T.BinaryType()),
    ("GEOGRAPHY", T.StringType()),
    ("UNKNOWN_TYPE_X", T.StringType()),
])
def test_snowflake_to_spark(sf, spark_t):
    assert snowflake_to_spark(sf) == spark_t


@pytest.mark.parametrize("dt,name", [
    (T.LongType(), "NUMBER"),
    (T.IntegerType(), "NUMBER"),
    (T.DecimalType(10, 2), "NUMBER"),
    (T.DoubleType(), "FLOAT"),
    (T.StringType(), "TEXT"),
    (T.BooleanType(), "BOOLEAN"),
    (T.DateType(), "DATE"),
    (T.TimestampNTZType(), "TIMESTAMP_NTZ"),
    (T.TimestampType(), "TIMESTAMP_TZ"),
    (T.BinaryType(), "BINARY"),
    (T.ArrayType(T.LongType()), "ARRAY"),
    (T.MapType(T.StringType(), T.LongType()), "OBJECT"),
])
def test_spark_to_snowflake(dt, name):
    assert spark_to_snowflake_name(dt) == name


# ---- bindings (reference: pkg/query/executor.go:134-280) ----

def test_binding_text_escape():
    # backslash-escaped quote form: Spark's default parser treats
    # backslash as an escape char, so both it AND the quote must escape
    assert format_binding_value("TEXT", "O'Brien") == "'O\\'Brien'"
    assert format_binding_value("TEXT", "C:\\temp") == "'C:\\\\temp'"


def test_binding_types():
    assert format_binding_value("FIXED", "42") == "42"
    assert format_binding_value("REAL", "3.14") == "3.14"
    assert format_binding_value("BOOLEAN", "true") == "TRUE"
    assert format_binding_value("DATE", "2024-01-15") == "DATE '2024-01-15'"
    assert format_binding_value("TIMESTAMP", "2024-01-15 10:30:00") == "TIMESTAMP '2024-01-15 10:30:00'"
    assert format_binding_value("TEXT", None) == "NULL"


def test_binding_validation_errors():
    with pytest.raises(errors.SnowflakeError):
        format_binding_value("FIXED", "not-a-number")
    with pytest.raises(errors.SnowflakeError):
        format_binding_value("DATE", "15/01/2024")


def test_binding_descending_order():
    # :1 must not clobber :10 (executor.go:154-160)
    sql = "SELECT :1, :10"
    out = apply_bindings(sql, {
        "1": {"type": "FIXED", "value": "1"},
        "10": {"type": "FIXED", "value": "10"},
    })
    assert out == "SELECT 1, 10"


def test_binding_qmark_skips_strings():
    out = apply_bindings("SELECT '?' , ?", {"1": {"type": "FIXED", "value": "5"}})
    assert out == "SELECT '?' , 5"


# ---- COPY parser (reference: pkg/query/copy_processor.go:110-212) ----

def test_parse_copy_basic():
    st = parse_copy("COPY INTO mytable FROM @mystage")
    assert st.table == "mytable" and st.stage == "mystage"
    assert st.format_type == "CSV"


def test_parse_copy_full():
    st = parse_copy(
        "COPY INTO db.s.t FROM @st/sub/dir "
        "FILE_FORMAT=(TYPE=CSV FIELD_DELIMITER='|' SKIP_HEADER=1 TRIM_SPACE=TRUE) "
        "PATTERN='.*[.]csv' ON_ERROR=CONTINUE PURGE=TRUE"
    )
    assert st.table == "db.s.t"
    assert st.stage == "st" and st.path == "sub/dir"
    assert st.options["FIELD_DELIMITER"] == "|"
    assert st.options["SKIP_HEADER"] == "1"
    assert st.pattern == ".*[.]csv"
    assert st.on_error == "CONTINUE"
    assert st.purge is True


def test_parse_copy_json():
    st = parse_copy("COPY INTO t FROM @s FILE_FORMAT=(TYPE=JSON STRIP_OUTER_ARRAY=TRUE)")
    assert st.format_type == "JSON"
    assert st.options["STRIP_OUTER_ARRAY"] == "TRUE"


# ---- MERGE parser (reference: pkg/query/merge_processor.go:110-272) ----

def test_parse_merge_basic():
    st = parse_merge(
        """MERGE INTO tgt t USING src s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET name = s.name
           WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)"""
    )
    assert st.target == "tgt" and st.target_alias == "t"
    assert st.source == "src" and st.source_alias == "s"
    assert st.on_condition == "t.id = s.id"
    assert len(st.when_clauses) == 2
    assert st.when_clauses[0].action == "UPDATE"
    assert st.when_clauses[0].set_clauses == {"NAME": "s.name"}
    assert st.when_clauses[1].action == "INSERT"
    assert st.when_clauses[1].insert_cols == ["ID", "NAME"]


def test_parse_merge_subquery_source_and_conditions():
    st = parse_merge(
        """MERGE INTO tgt USING (SELECT id, v FROM src WHERE v > 0) s ON tgt.id = s.id
           WHEN MATCHED AND s.v = 0 THEN DELETE
           WHEN MATCHED THEN UPDATE SET v = s.v"""
    )
    assert st.source.startswith("(")
    assert st.when_clauses[0].action == "DELETE"
    assert st.when_clauses[0].condition == "s.v = 0"
    assert st.when_clauses[1].action == "UPDATE"


def test_parse_update_and_delete_as_merge_statements():
    from snowflake_emulator_spark.operators.merge_into import parse_delete, parse_update

    st = parse_update(
        "UPDATE t AS a SET a.x = CASE WHEN a.x IS DISTINCT FROM s.y THEN s.y END, w = 'v' "
        "FROM (SELECT id, MAX(y) y FROM u WHERE y IS NOT DISTINCT FROM 1 GROUP BY id) s "
        "WHERE a.id = s.id AND a.id IN (SELECT id FROM u)")
    assert (st.target, st.target_alias, st.source_alias) == ("t", "a", "s")
    assert st.source.startswith("(SELECT id") and st.source.endswith("GROUP BY id)")
    assert st.on_condition == "a.id = s.id AND a.id IN (SELECT id FROM u)"
    [clause] = st.when_clauses
    assert (clause.is_matched, clause.action) == (True, "UPDATE")
    assert clause.set_clauses == {
        "X": "CASE WHEN a.x IS DISTINCT FROM s.y THEN s.y END", "W": "'v'"}

    st = parse_update("UPDATE db.sch.t SET x = 1")
    assert (st.target_alias, st.source, st.on_condition) == ("t", None, None)

    st = parse_delete("DELETE FROM t USING u WHERE t.id = u.id")
    assert (st.target_alias, st.source, st.source_alias) == ("t", "u", "u")
    assert st.when_clauses[0].action == "DELETE"
    st = parse_delete("DELETE FROM t a WHERE a.x IS DISTINCT FROM 2")
    assert (st.target_alias, st.source, st.on_condition) == ("a", None, "a.x IS DISTINCT FROM 2")


# ---- warehouse state machine (reference: pkg/warehouse/manager.go) ----

def test_warehouse_lifecycle():
    wm = WarehouseManager()
    wm.create("wh1", "SMALL")
    assert wm.get("wh1").state == "ACTIVE"
    wm.set_state("wh1", "SUSPEND")
    assert wm.get("wh1").state == "SUSPENDED"
    wm.set_state("wh1", "RESUME")
    assert wm.get("wh1").state == "ACTIVE"
    with pytest.raises(errors.SnowflakeError):
        wm.create("wh2", "MEGA-LARGE")
    with pytest.raises(errors.SnowflakeError):
        wm.create("wh1", "SMALL")
    wm.drop("wh1")
    with pytest.raises(errors.SnowflakeError):
        wm.get("wh1")


# ---- sessions (reference: pkg/session/manager.go) ----

def test_session_lifecycle():
    sm = SessionManager(validity_secs=3600)
    s = sm.create()
    assert sm.validate(s.token).id == s.id
    old_token = s.token
    s2 = sm.renew(s.master_token, s.token)
    assert s2.token != old_token
    with pytest.raises(errors.SnowflakeError):
        sm.validate(old_token)
    sm.logout(s2.token)
    with pytest.raises(errors.SnowflakeError):
        sm.validate(s2.token)


def test_session_expiry():
    sm = SessionManager(validity_secs=-1)
    s = sm.create()
    with pytest.raises(errors.SnowflakeError):
        sm.validate(s.token)


def test_extract_token():
    assert extract_token('Snowflake Token="abc123"') == "abc123"
    assert extract_token("Bearer xyz") == "xyz"
    with pytest.raises(errors.SnowflakeError):
        extract_token(None)
    with pytest.raises(errors.SnowflakeError):
        extract_token("Basic dXNlcg==")


# ---- session persistence (reference: pkg/session/store.go:33-208) ----

def test_session_store_roundtrip(tmp_path):
    from snowflake_emulator_spark.session_store import FileSessionStore

    sm = SessionManager(validity_secs=3600)
    s = sm.create(database="DB1", schema="S1")
    store = FileSessionStore(str(tmp_path / "sessions.json"))
    store.save(sm)

    sm2 = SessionManager(validity_secs=3600)
    assert store.load(sm2) == 1
    restored = sm2.validate(s.token)
    assert restored.database == "DB1" and restored.schema == "S1"
    assert restored.master_token == s.master_token


def test_alter_session_parameters(engine):
    from snowflake_emulator_spark.executor import SessionContext

    ctx = SessionContext()
    res = engine.execute("SHOW PARAMETERS LIKE 'TIMEZONE'", ctx)
    assert res.rows == [["TIMEZONE", "UTC", "UTC"]]
    engine.execute(
        "ALTER SESSION SET TIMEZONE = 'America/New_York' QUERY_TAG = 'etl-run'", ctx)
    res = engine.execute("SHOW PARAMETERS LIKE 'TIMEZONE'", ctx)
    assert res.rows == [["TIMEZONE", "America/New_York", "UTC"]]
    res = engine.execute("SHOW PARAMETERS LIKE 'QUERY%'", ctx)
    assert res.rows[0][1] == "etl-run"
    # parameters are per-session: a fresh context sees defaults
    other = SessionContext()
    res = engine.execute("SHOW PARAMETERS LIKE 'TIMEZONE'", other)
    assert res.rows == [["TIMEZONE", "UTC", "UTC"]]
    # UNSET restores the default
    engine.execute("ALTER SESSION UNSET TIMEZONE", ctx)
    res = engine.execute("SHOW PARAMETERS LIKE 'TIMEZONE'", ctx)
    assert res.rows == [["TIMEZONE", "UTC", "UTC"]]
