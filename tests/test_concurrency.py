"""Concurrency: reads concurrent, writes serialized by the catalog lock
(reference analog: pkg/connection/manager.go:16-63 write mutex;
tests/integration/server_integration_test.go:323 concurrent sessions)."""

import threading

from snowflake_emulator_spark.executor import SessionContext


def test_concurrent_reads_and_writes(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE conc (id INTEGER, v INTEGER)", ctx)
    engine.execute("INSERT INTO conc VALUES (0, 0)", ctx)

    errors: list[Exception] = []

    def writer(i: int):
        try:
            c = SessionContext()
            engine.execute(f"INSERT INTO conc VALUES ({i}, {i * 10})", c)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def reader():
        try:
            c = SessionContext()
            engine.execute("SELECT count(*) AS n FROM conc", c)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(1, 6)]
    threads += [threading.Thread(target=reader) for _ in range(5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    res = engine.execute("SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS s FROM conc", ctx)
    # every write must have landed exactly once (serialized appends)
    assert tuple(res.rows[0]) == (6, sum(i * 10 for i in range(1, 6)))


def test_concurrent_sessions_isolated_namespaces(engine):
    engine.execute("CREATE DATABASE cdb1")
    engine.execute("CREATE DATABASE cdb2")
    ctx1 = SessionContext("CDB1", "PUBLIC")
    ctx2 = SessionContext("CDB2", "PUBLIC")
    engine.execute("CREATE TABLE t (x INTEGER)", ctx1)
    engine.execute("CREATE TABLE t (x INTEGER)", ctx2)
    engine.execute("INSERT INTO t VALUES (1)", ctx1)
    engine.execute("INSERT INTO t VALUES (2),(3)", ctx2)
    r1 = engine.execute("SELECT count(*) AS n FROM cdb1.public.t", ctx1)
    r2 = engine.execute("SELECT count(*) AS n FROM cdb2.public.t", ctx2)
    assert tuple(r1.rows[0]) == (1,)
    assert tuple(r2.rows[0]) == (2,)


def test_concurrent_identical_copy_loads_once(engine, tmp_path):
    """Two threads racing the SAME COPY must load the file once — the
    per-table COPY mutex makes the history check/load/record sequence
    atomic (Snowflake load-history semantics)."""
    import threading

    from snowflake_emulator_spark.sessions import SessionContext

    ctx = SessionContext()
    engine.execute("CREATE TABLE cc_lh (id INTEGER)", ctx)
    engine.execute("CREATE STAGE cc_s", ctx)
    p = tmp_path / "r.csv"
    p.write_text("1\n2\n3\n")
    engine.stages.put_file(engine.catalog.get("STAGE", "cc_s"), str(p))
    errs = []

    def run():
        try:
            engine.execute(
                "COPY INTO cc_lh FROM @cc_s FILE_FORMAT=(TYPE=CSV)",
                SessionContext())
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=run) for _ in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert engine.execute("SELECT count(*) AS n FROM cc_lh", ctx).rows == [[3]]


def test_concurrent_updates_of_one_table_lose_nothing(engine):
    """Read-modify-write DML reads the live version inside the table's
    write lock: four sessions incrementing their own row of one table
    concurrently must not overwrite each other's increments."""
    import sys

    ctx = SessionContext()
    engine.execute("CREATE TABLE lost_upd (id INTEGER, n INTEGER)", ctx)
    engine.execute("INSERT INTO lost_upd VALUES (0, 0), (1, 0), (2, 0), (3, 0)", ctx)
    errs: list[Exception] = []

    def bump(i: int):
        try:
            c = SessionContext()
            for _ in range(3):
                engine.execute(f"UPDATE lost_upd SET n = n + 1 WHERE id = {i}", c)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        ts = [threading.Thread(target=bump, args=(i,)) for i in range(4)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ts)
    assert not errs, errs
    res = engine.execute("SELECT id, n FROM lost_upd ORDER BY id", ctx)
    assert [tuple(r) for r in res.rows] == [(0, 3), (1, 3), (2, 3), (3, 3)]


def test_rejected_merge_loses_no_concurrent_insert(engine):
    """A strict MERGE that matches a target row twice is rejected before
    its version is published, inside the table lock, so an INSERT that
    runs meanwhile on another session is kept."""
    import sys

    ctx = SessionContext()
    engine.execute("CREATE TABLE mg_t (id INTEGER, n INTEGER)", ctx)
    engine.execute("INSERT INTO mg_t VALUES (0, 0)", ctx)
    engine.execute("CREATE TABLE mg_src (id INTEGER, n INTEGER)", ctx)
    engine.execute("INSERT INTO mg_src VALUES (0, 1), (0, 2)", ctx)
    errs: list[Exception] = []
    rejected: list[Exception] = []

    def merge():
        c = SessionContext()
        for _ in range(4):
            try:
                engine.execute("MERGE INTO mg_t USING mg_src ON mg_t.id = mg_src.id "
                               "WHEN MATCHED THEN UPDATE SET n = mg_src.n", c)
            except Exception as e:  # noqa: BLE001
                rejected.append(e)

    def insert():
        try:
            c = SessionContext()
            for i in range(1, 9):
                engine.execute(f"INSERT INTO mg_t VALUES ({i}, 0)", c)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        ts = [threading.Thread(target=merge), threading.Thread(target=insert)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ts)
    assert not errs, errs
    assert len(rejected) == 4 and all("Duplicate row" in str(e) for e in rejected)
    res = engine.execute("SELECT id, n FROM mg_t ORDER BY id", ctx)
    assert [tuple(r) for r in res.rows] == [(i, 0) for i in range(9)]


def test_concurrent_update_from_on_different_tables(engine):
    """Two sessions run UPDATE ... FROM on different tables at once:
    each joins its own source (the join is not a shared temp view)."""
    import sys

    ctx = SessionContext()
    for t, v in (("A", 1), ("B", 100)):
        engine.execute(f"CREATE TABLE UF_T{t} (ID INTEGER, V INTEGER)", ctx)
        engine.execute(f"CREATE TABLE UF_S{t} (ID INTEGER, V INTEGER)", ctx)
        engine.execute(f"INSERT INTO UF_T{t} VALUES (1, 0)", ctx)
        engine.execute(f"INSERT INTO UF_S{t} VALUES (1, {v})", ctx)
    errs = []

    def run(t):
        try:
            for _ in range(6):
                engine.execute(f"UPDATE UF_T{t} SET V = UF_T{t}.V + s.V FROM UF_S{t} s "
                               f"WHERE UF_T{t}.ID = s.ID", SessionContext())
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=run, args=(t,)) for t in ("A", "B")]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errs, errs
    assert engine.execute("SELECT V FROM UF_TA", ctx).rows[0][0] == 6
    assert engine.execute("SELECT V FROM UF_TB", ctx).rows[0][0] == 600
