"""Name resolution: a statement's bare names bind to the session's
current schema inside the statement itself (one CTE per name), never
through Spark's shared temp-view namespace. So one session's current
schema, DDL or role cannot change what another session's statement
reads, and planning a view of another schema cannot rebind the names of
the statement that reads it."""

import sys
import threading

import pytest

from snowflake_emulator_spark.executor import SessionContext


def _rows(engine, sql, ctx):
    return [tuple(r) for r in engine.execute(sql, ctx).rows]


def _session(schema=None, role=None):
    ctx = SessionContext(schema=schema)
    ctx.parameters["USE_CACHED_RESULT"] = "false"
    if role:
        ctx.role = role
    return ctx


def _run_concurrently(workers, timeout=60):
    """Start every worker at once with a short switch interval (more
    thread interleavings per statement); return the exceptions raised."""
    errs: list[BaseException] = []
    barrier = threading.Barrier(len(workers))

    def run(fn):
        try:
            barrier.wait()
            fn()
        except BaseException as e:  # noqa: BLE001 - reported by the test
            errs.append(e)

    threads = [threading.Thread(target=run, args=(w,)) for w in workers]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads), "worker did not finish"
    return errs


@pytest.fixture()
def two_schemas(engine):
    """Schemas NR_A and NR_B of TEST_DB, each with its own table T."""
    ctx = SessionContext()
    for sch, vals in (("NR_A", "(1), (2)"), ("NR_B", "(10), (20), (30)")):
        engine.execute(f"CREATE SCHEMA {sch}", ctx)
        engine.execute(f"CREATE TABLE {sch}.T (X INTEGER)", ctx)
        engine.execute(f"INSERT INTO {sch}.T VALUES {vals}", ctx)
    return engine


def test_view_of_another_schema_does_not_rebind_bare_names(two_schemas):
    engine = two_schemas
    engine.execute("CREATE VIEW V AS SELECT X FROM T", _session("NR_B"))
    engine.execute("INSERT INTO NR_B.T VALUES (40)", _session("NR_B"))
    ctx = _session("NR_A")
    for _ in range(2):
        got = _rows(engine, "SELECT X FROM NR_B.V UNION ALL SELECT X FROM T ORDER BY X", ctx)
        assert got == [(1,), (2,), (10,), (20,), (30,), (40,)]


def test_concurrent_sessions_read_their_own_bare_tables(two_schemas):
    """Two sessions in different schemas read bare T at once while a
    third creates and drops a table in one of those schemas."""
    engine = two_schemas
    seen = {"NR_A": set(), "NR_B": set()}

    def reader(schema):
        ctx = _session(schema)
        for _ in range(20):
            seen[schema].add(_rows(engine, "SELECT SUM(X) FROM T", ctx)[0][0])

    def ddl():
        ctx = _session("NR_A")
        for i in range(4):
            engine.execute(f"CREATE TABLE NR_TMP_{i} (X INTEGER)", ctx)
            engine.execute(f"DROP TABLE NR_TMP_{i}", ctx)

    errs = _run_concurrently([lambda: reader("NR_A"), lambda: reader("NR_B"), ddl])
    assert not errs, errs
    assert seen == {"NR_A": {3}, "NR_B": {60}}


def test_bare_names_are_not_spark_temp_views(engine, spark):
    ctx = SessionContext()
    engine.execute("CREATE TABLE NR_PLAIN (X INTEGER)", ctx)
    engine.execute("CREATE VIEW NR_PLAIN_V AS SELECT X FROM NR_PLAIN", ctx)
    engine.execute("CREATE STREAM NR_PLAIN_S ON TABLE NR_PLAIN", ctx)
    engine.execute("INSERT INTO NR_PLAIN VALUES (1)", ctx)
    assert _rows(engine, "SELECT * FROM NR_PLAIN", ctx) == [(1,)]
    assert _rows(engine, "SELECT * FROM NR_PLAIN_V", ctx) == [(1,)]
    assert _rows(engine, "SELECT X FROM NR_PLAIN_S", ctx) == [(1,)]
    for name in ("NR_PLAIN", "NR_PLAIN_V", "NR_PLAIN_S"):
        assert not spark.catalog.tableExists(name), name


@pytest.mark.parametrize("sql, expected", [
    # a user CTE named like a table shadows the table
    ("WITH NR_E AS (SELECT 7 AS X) SELECT X FROM NR_E", [(7,)]),
    # ... and its own body still reads the table
    ("WITH NR_E AS (SELECT X + 10 AS X FROM NR_E) SELECT X FROM NR_E ORDER BY X",
     [(11,), (12,)]),
    # a column named like a table still resolves as the column
    ("SELECT NR_E FROM NR_E_COLS", [(5,)]),
    # quoted and lowercase spellings
    ('SELECT X FROM "NR_E" ORDER BY X', [(1,), (2,)]),
    ("select x from nr_e order by x", [(1,), (2,)]),
    # self-join and an unaliased table qualifier
    ("SELECT a.X, b.X FROM NR_E a JOIN NR_E b ON a.X = b.X ORDER BY a.X",
     [(1, 1), (2, 2)]),
    ("SELECT NR_E.X FROM NR_E ORDER BY NR_E.X", [(1,), (2,)]),
    # a trailing comment cannot swallow the statement's end
    ("SELECT COUNT(*) FROM NR_E -- count", [(2,)]),
])
def test_binder_edge_cases(engine, sql, expected):
    ctx = SessionContext()
    engine.execute("CREATE TABLE NR_E (X INTEGER)", ctx)
    engine.execute("INSERT INTO NR_E VALUES (1), (2)", ctx)
    engine.execute("CREATE TABLE NR_E_COLS (NR_E INTEGER)", ctx)
    engine.execute("INSERT INTO NR_E_COLS VALUES (5)", ctx)
    assert _rows(engine, sql, ctx) == expected


@pytest.fixture()
def masked_ssn(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE NR_PII (ID INTEGER, SSN VARCHAR)", ctx)
    engine.execute("INSERT INTO NR_PII VALUES (1, '123-45-6789')", ctx)
    engine.execute(
        "CREATE MASKING POLICY NR_SSN_MASK AS (v VARCHAR) RETURNS VARCHAR -> "
        "IFF(CURRENT_ROLE() = 'PII_READER', v, '***')", ctx)
    engine.execute("ALTER TABLE NR_PII MODIFY COLUMN SSN SET MASKING POLICY NR_SSN_MASK", ctx)
    return engine


def _concurrent_role_reads(engine, sql, n):
    """Rows a PII_READER and a PUBLIC session see reading ``sql`` ``n``
    times each, at once."""
    seen = {"PII_READER": set(), "PUBLIC": set()}

    def reader(role):
        ctx = _session(role=role)
        for _ in range(n):
            seen[role].update(_rows(engine, sql, ctx))

    errs = _run_concurrently([lambda: reader("PII_READER"), lambda: reader("PUBLIC")])
    assert not errs, errs
    return seen


def test_concurrent_roles_each_see_their_own_masking(masked_ssn):
    seen = _concurrent_role_reads(masked_ssn, "SELECT SSN FROM NR_PII", 80)
    assert seen == {"PII_READER": {("123-45-6789",)}, "PUBLIC": {("***",)}}


def test_concurrent_roles_read_governed_streams_and_context_views(masked_ssn):
    engine = masked_ssn
    ctx = SessionContext()
    engine.execute("CREATE VIEW NR_ROLE_V AS SELECT CURRENT_ROLE() AS R", ctx)
    engine.execute("CREATE STREAM NR_PII_S ON TABLE NR_PII", ctx)
    engine.execute("INSERT INTO NR_PII VALUES (2, '987-65-4321')", ctx)
    seen = _concurrent_role_reads(
        engine, "SELECT s.SSN, v.R FROM NR_PII_S s CROSS JOIN NR_ROLE_V v", 10)
    assert seen == {"PII_READER": {("987-65-4321", "PII_READER")},
                    "PUBLIC": {("***", "PUBLIC")}}


def test_view_over_masked_table_masks_for_each_reader(masked_ssn):
    """A view is planned with its reader's identity: a role that may
    see cleartext must not leave it behind for the next reader."""
    engine = masked_ssn
    engine.execute("CREATE VIEW NR_PII_V AS SELECT SSN FROM NR_PII", SessionContext())
    for role, ssn in (("PII_READER", "123-45-6789"), ("PUBLIC", "***"),
                      ("PII_READER", "123-45-6789")):
        assert _rows(engine, "SELECT SSN FROM NR_PII_V", _session(role=role)) == [(ssn,)]


def test_subqueries_of_dml_and_policies_bind_bare_names(engine):
    """Bare names inside a DML value's subquery bind to the session's
    schema; those inside a policy body bind to the governed table's
    schema, whatever schema the reader is in."""
    ctx = SessionContext()
    engine.execute("CREATE SCHEMA NR_OTHER", ctx)
    engine.execute("CREATE TABLE NR_T (ID INTEGER, X INTEGER)", ctx)
    engine.execute("CREATE TABLE NR_U (ID INTEGER)", ctx)
    engine.execute("INSERT INTO NR_T VALUES (1, 0), (2, 0)", ctx)
    engine.execute("INSERT INTO NR_U VALUES (7)", ctx)
    engine.execute("UPDATE NR_T SET X = (SELECT MAX(ID) FROM NR_U) WHERE ID = 1", ctx)
    assert _rows(engine, "SELECT ID, X FROM NR_T ORDER BY ID", ctx) == [(1, 7), (2, 0)]

    engine.execute("CREATE TABLE NR_ALLOWED (R VARCHAR)", ctx)
    engine.execute("INSERT INTO NR_ALLOWED VALUES ('EU')", ctx)
    engine.execute("CREATE TABLE NR_SALES (REGION VARCHAR, V INTEGER)", ctx)
    engine.execute("INSERT INTO NR_SALES VALUES ('EU', 1), ('US', 2)", ctx)
    engine.execute(
        "CREATE ROW ACCESS POLICY NR_RLS AS (reg VARCHAR) RETURNS BOOLEAN -> "
        "EXISTS (SELECT 1 FROM NR_ALLOWED a WHERE a.R = reg)", ctx)
    engine.execute("ALTER TABLE NR_SALES ADD ROW ACCESS POLICY NR_RLS ON (REGION)", ctx)
    assert _rows(engine, "SELECT V FROM NR_SALES", ctx) == [(1,)]
    assert _rows(engine, "SELECT V FROM PUBLIC.NR_SALES", _session("NR_OTHER")) == [(1,)]


def test_view_over_a_context_function_view_is_planned_per_reader(engine):
    ctx = SessionContext()
    engine.execute("CREATE VIEW NR_ROLE_INNER AS SELECT CURRENT_ROLE() AS R", ctx)
    engine.execute("CREATE VIEW NR_ROLE_OUTER AS SELECT R FROM NR_ROLE_INNER", ctx)
    for role in ("ANALYST", "PUBLIC"):
        assert _rows(engine, "SELECT R FROM NR_ROLE_OUTER", _session(role=role)) == [(role,)]
