"""RESULT_SCAN / LAST_QUERY_ID (beyond reference: Snowflake result
re-serve over the executor's capped in-memory result store)."""

import pytest

from snowflake_emulator_spark import errors
from snowflake_emulator_spark.executor import SessionContext


def _rows(res):
    return [tuple(r) for r in res.rows]


def test_result_scan_last_query_id(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE rs_t (id INTEGER, v VARCHAR)", ctx)
    engine.execute("INSERT INTO rs_t VALUES (1,'a'),(2,'b'),(3,'c')", ctx)
    engine.execute("SELECT id, upper(v) AS uv FROM rs_t WHERE id >= 2 ORDER BY id", ctx)
    res = engine.execute(
        "SELECT uv, id FROM TABLE(RESULT_SCAN(LAST_QUERY_ID())) ORDER BY id DESC", ctx)
    assert _rows(res) == [("C", 3), ("B", 2)]


def test_result_scan_by_explicit_id_and_reaggregation(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE rs_u (id INTEGER, grp VARCHAR, x INTEGER)", ctx)
    engine.execute("INSERT INTO rs_u VALUES (1,'a',10),(2,'a',20),(3,'b',30)", ctx)
    first = engine.execute("SELECT grp, x FROM rs_u", ctx)
    assert first.query_id
    res = engine.execute(
        f"SELECT grp, sum(x) AS total FROM TABLE(RESULT_SCAN('{first.query_id}')) "
        "GROUP BY grp ORDER BY grp", ctx)
    assert _rows(res) == [("a", 30), ("b", 60 // 2)]


def test_result_scan_snapshot_is_stable_across_table_changes(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE rs_s (id INTEGER)", ctx)
    engine.execute("INSERT INTO rs_s VALUES (1),(2)", ctx)
    snap = engine.execute("SELECT id FROM rs_s", ctx)
    engine.execute("INSERT INTO rs_s VALUES (3)", ctx)
    res = engine.execute(
        f"SELECT count(*) AS n FROM TABLE(RESULT_SCAN('{snap.query_id}'))", ctx)
    assert _rows(res) == [(2,)]  # the stored result, not the live table


def test_result_scan_unknown_id_errors(engine):
    ctx = SessionContext()
    with pytest.raises(errors.SnowflakeError):
        engine.execute("SELECT * FROM TABLE(RESULT_SCAN('01bogus-nope'))", ctx)


def test_result_scan_of_ddl_status(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE rs_d (id INTEGER)", ctx)
    res = engine.execute("SELECT * FROM TABLE(RESULT_SCAN(LAST_QUERY_ID()))", ctx)
    assert res.columns == ["status"]
    assert "successfully created" in res.rows[0][0]


def test_result_store_eviction(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE rs_e (id INTEGER)", ctx)
    engine.execute("INSERT INTO rs_e VALUES (1)", ctx)
    first = engine.execute("SELECT id FROM rs_e", ctx)
    store = engine.statements
    cap = store._result_store_cap
    store._result_store_cap = 5
    try:
        for _ in range(8):
            engine.execute("SELECT id FROM rs_e", ctx)
        assert len(store._results) <= 5
        with pytest.raises(errors.SnowflakeError):
            engine.execute(f"SELECT * FROM TABLE(RESULT_SCAN('{first.query_id}'))", ctx)
    finally:
        store._result_store_cap = cap


def test_query_result_cache_hit_and_invalidation(engine):
    """USE_CACHED_RESULT (r8): an identical SELECT against an
    unchanged catalog re-serves the SAME Result object; any catalog
    mutation invalidates; nondeterministic tokens and the session
    parameter opt-out bypass the cache."""
    from snowflake_emulator_spark.sessions import SessionContext

    ctx = SessionContext()
    engine.execute("CREATE TABLE qrc_t (id INTEGER)", ctx)
    engine.execute("INSERT INTO qrc_t VALUES (1), (2)", ctx)
    r1 = engine.execute("SELECT sum(id) AS s FROM qrc_t", ctx)
    r2 = engine.execute("SELECT sum(id) AS s FROM qrc_t", ctx)
    # served from cache: rows list is SHARED, result object is a copy
    # with its own query id (RESULT_SCAN semantics)
    assert r2.rows is r1.rows and r2 is not r1
    assert r2.query_id != r1.query_id
    # a write invalidates
    engine.execute("INSERT INTO qrc_t VALUES (3)", ctx)
    r3 = engine.execute("SELECT sum(id) AS s FROM qrc_t", ctx)
    assert r3.rows is not r1.rows
    assert [tuple(r) for r in r3.rows] == [(6,)]
    # nondeterministic queries never cache
    n1 = engine.execute("SELECT RANDOM() AS r", ctx)
    n2 = engine.execute("SELECT RANDOM() AS r", ctx)
    assert n1.rows is not n2.rows
    # session opt-out
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = false", ctx)
    r4 = engine.execute("SELECT sum(id) AS s FROM qrc_t", ctx)
    r5 = engine.execute("SELECT sum(id) AS s FROM qrc_t", ctx)
    assert r4.rows is not r5.rows
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = true", ctx)


def test_query_cache_respects_session_variables(engine):
    """Two sessions with different variable values must not share a
    cache entry (the key includes the variable bindings)."""
    from snowflake_emulator_spark.sessions import SessionContext

    ctx = SessionContext()
    engine.execute("CREATE TABLE qrc_v (id INTEGER)", ctx)
    engine.execute("INSERT INTO qrc_v VALUES (1), (2), (3)", ctx)
    engine.execute("SET lim = 1", ctx)
    a = engine.execute("SELECT count(*) AS n FROM qrc_v WHERE id <= $lim", ctx)
    engine.execute("SET lim = 3", ctx)
    b = engine.execute("SELECT count(*) AS n FROM qrc_v WHERE id <= $lim", ctx)
    assert [tuple(r) for r in a.rows] == [(1,)]
    assert [tuple(r) for r in b.rows] == [(3,)]


def test_query_cache_safe_across_transaction_rollback(engine):
    """The stale-cache hazard scenario: SELECT (cached) -> BEGIN ->
    INSERT -> SELECT (cached with in-tx data) -> ROLLBACK -> SELECT.
    The rollback's restore_versions bumps the mutation counter, so the
    post-rollback SELECT must re-execute and see the restored data,
    not the in-tx cached rows."""
    from snowflake_emulator_spark.sessions import SessionContext

    ctx = SessionContext()
    engine.execute("CREATE TABLE qrc_tx (id INTEGER)", ctx)
    engine.execute("INSERT INTO qrc_tx VALUES (1)", ctx)
    pre = engine.execute("SELECT count(*) AS n FROM qrc_tx", ctx)
    assert [tuple(r) for r in pre.rows] == [(1,)]
    engine.execute("BEGIN", ctx)
    engine.execute("INSERT INTO qrc_tx VALUES (2)", ctx)
    mid = engine.execute("SELECT count(*) AS n FROM qrc_tx", ctx)
    assert [tuple(r) for r in mid.rows] == [(2,)]
    engine.execute("ROLLBACK", ctx)
    post = engine.execute("SELECT count(*) AS n FROM qrc_tx", ctx)
    assert [tuple(r) for r in post.rows] == [(1,)]
    assert post.rows is not mid.rows
