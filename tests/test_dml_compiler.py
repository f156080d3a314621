"""UPDATE, DELETE and MERGE share one compiler (operators/merge_into.py):
target aliases, subquery / view / stream sources, policies on sources,
session variables in MERGE, and the text of Spark parse errors."""

import pytest

from snowflake_emulator_spark import errors
from snowflake_emulator_spark.executor import SessionContext


def rows(engine, sql, ctx):
    return [tuple(r) for r in engine.execute(sql, ctx).rows]


@pytest.fixture()
def tables(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE T (ID INTEGER, X INTEGER)", ctx)
    engine.execute("INSERT INTO T VALUES (1, 10), (2, 20), (3, 30), (99, 0)", ctx)
    engine.execute("CREATE TABLE U (ID INTEGER, Y INTEGER)", ctx)
    engine.execute("INSERT INTO U VALUES (1, 100), (1, 150), (3, 300), (4, 400)", ctx)
    return engine, ctx


def test_target_alias(tables):
    engine, ctx = tables
    assert engine.execute("UPDATE T AS A SET X = 7 WHERE A.ID = 1", ctx).rows_updated == 1
    assert engine.execute("DELETE FROM T AS A WHERE A.ID = 99", ctx).rows_deleted == 1
    assert engine.execute("UPDATE T B SET B.X = B.X + 1 WHERE B.ID > 2", ctx).rows_updated == 1
    assert rows(engine, "SELECT ID, X FROM T ORDER BY ID", ctx) == [(1, 7), (2, 20), (3, 31)]


def test_subquery_sources(tables):
    engine, ctx = tables
    r = engine.execute("UPDATE T SET X = S.Y FROM (SELECT ID, MAX(Y) Y FROM U GROUP BY ID) S "
                       "WHERE T.ID = S.ID", ctx)
    assert r.rows == [[2]]
    assert rows(engine, "SELECT ID, X FROM T ORDER BY ID", ctx) == [
        (1, 150), (2, 20), (3, 300), (99, 0)]
    r = engine.execute("DELETE FROM T USING (SELECT ID FROM U WHERE Y > 200) S "
                       "WHERE T.ID = S.ID", ctx)
    assert r.rows == [[1]]
    assert rows(engine, "SELECT ID FROM T ORDER BY ID", ctx) == [(1,), (2,), (99,)]
    # several matches change the row once, without the strict MERGE error
    r = engine.execute("UPDATE T SET X = S.Y FROM (SELECT ID, Y FROM U) S WHERE T.ID = S.ID", ctx)
    assert r.rows_updated == 1
    assert rows(engine, "SELECT COUNT(*) FROM T", ctx) == [(3,)]
    assert rows(engine, "SELECT X FROM T WHERE ID = 1", ctx)[0][0] in (100, 150)


def test_view_and_stream_sources(tables):
    engine, ctx = tables
    engine.execute("CREATE VIEW BIG_U AS SELECT ID, Y FROM U WHERE Y >= 300", ctx)
    assert engine.execute("UPDATE T SET X = V.Y FROM BIG_U V WHERE T.ID = V.ID",
                          ctx).rows_updated == 1
    assert rows(engine, "SELECT X FROM T WHERE ID = 3", ctx) == [(300,)]

    engine.execute("CREATE STREAM U_S ON TABLE U", ctx)
    engine.execute("INSERT INTO U VALUES (2, 222)", ctx)
    assert engine.execute("UPDATE T SET X = S.Y FROM U_S S WHERE T.ID = S.ID",
                          ctx).rows_updated == 1
    assert rows(engine, "SELECT X FROM T WHERE ID = 2", ctx) == [(222,)]
    # the stream is consumed once the UPDATE commits
    assert rows(engine, "SELECT COUNT(*) FROM U_S", ctx) == [(0,)]
    engine.execute("INSERT INTO U VALUES (99, 1)", ctx)
    assert engine.execute("DELETE FROM T USING U_S S WHERE T.ID = S.ID",
                          ctx).rows_deleted == 1
    assert rows(engine, "SELECT COUNT(*) FROM U_S", ctx) == [(0,)]
    assert rows(engine, "SELECT ID FROM T ORDER BY ID", ctx) == [(1,), (2,), (3,)]


@pytest.fixture()
def governed(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE P (ID INTEGER, SSN VARCHAR, REGION VARCHAR)", ctx)
    engine.execute("INSERT INTO P VALUES (1, '123', 'EU'), (2, '456', 'EU'), "
                   "(3, '789', 'US')", ctx)
    engine.execute("CREATE MASKING POLICY SSN_MASK AS (V VARCHAR) RETURNS VARCHAR -> "
                   "IFF(CURRENT_ROLE() = 'PII_READER', V, '***')", ctx)
    engine.execute("ALTER TABLE P MODIFY COLUMN SSN SET MASKING POLICY SSN_MASK", ctx)
    engine.execute("CREATE ROW ACCESS POLICY EU_ONLY AS (R VARCHAR) RETURNS BOOLEAN -> "
                   "R = 'EU'", ctx)
    engine.execute("ALTER TABLE P ADD ROW ACCESS POLICY EU_ONLY ON (REGION)", ctx)
    for t in ("D1", "D2", "D3"):
        engine.execute(f"CREATE TABLE {t} (ID INTEGER, SSN VARCHAR)", ctx)
        engine.execute(f"INSERT INTO {t} VALUES (1, 'x'), (2, 'x'), (3, 'x')", ctx)
    return engine, ctx


def test_sources_honor_masking_and_row_access_policies(governed):
    engine, ctx = governed
    assert engine.execute("UPDATE D1 SET SSN = P.SSN FROM P WHERE D1.ID = P.ID",
                          ctx).rows_updated == 2
    assert rows(engine, "SELECT ID, SSN FROM D1 ORDER BY ID", ctx) == [
        (1, "***"), (2, "***"), (3, "x")]
    r = engine.execute("MERGE INTO D2 USING P ON D2.ID = P.ID "
                       "WHEN MATCHED THEN UPDATE SET SSN = P.SSN", ctx)
    assert (r.rows_inserted, r.rows_updated, r.rows_deleted) == (0, 2, 0)
    assert rows(engine, "SELECT ID, SSN FROM D2 ORDER BY ID", ctx) == [
        (1, "***"), (2, "***"), (3, "x")]
    # the cleartext SSN matches nothing, and the US row is not visible
    assert engine.execute("DELETE FROM D3 USING P WHERE D3.ID = P.ID AND P.SSN = '123'",
                          ctx).rows_deleted == 0
    assert engine.execute("DELETE FROM D3 USING P WHERE D3.ID = P.ID",
                          ctx).rows_deleted == 2
    assert rows(engine, "SELECT ID FROM D3", ctx) == [(3,)]


def test_merge_substitutes_session_variables(tables):
    engine, ctx = tables
    engine.execute("SET V = 42", ctx)
    r = engine.execute("MERGE INTO T USING (SELECT DISTINCT ID FROM U) S ON T.ID = S.ID "
                       "WHEN MATCHED THEN UPDATE SET X = $V", ctx)
    assert r.rows_updated == 2
    assert rows(engine, "SELECT ID, X FROM T ORDER BY ID", ctx) == [
        (1, 42), (2, 20), (3, 42), (99, 0)]


def test_parse_error_keeps_its_message(engine):
    with pytest.raises(errors.SnowflakeError, match="Syntax error"):
        engine.execute("SELECT 1 +* 2", SessionContext())
