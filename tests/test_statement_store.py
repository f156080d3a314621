"""One record per query id: every statement Engine.execute runs has a
record in the statement store, and every per-query surface (history,
RESULT_SCAN, the gosnowflake sync/async/monitoring/abort paths, REST
v2) resolves the same id through it. The store, its log and its result
retention are bounded."""

import json
import os
import re
import sys
import threading
import time
import urllib.request

import pytest

from snowflake_emulator_spark import config, errors
from snowflake_emulator_spark import statements as statements_mod
from snowflake_emulator_spark.result import Result
from snowflake_emulator_spark.sessions import SessionContext

HEAVY = ("SELECT COUNT(*) AS c FROM (SELECT a.id FROM range(8000000) a "
         "CROSS JOIN range(64) b WHERE (a.id * b.id) % 7 < 6)")


@pytest.fixture()
def ctx():
    return SessionContext()


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    from snowflake_emulator_spark.engine import Engine
    from snowflake_emulator_spark.server.app import SnowflakeServer

    eng = Engine(spark, base_dir=str(tmp_path_factory.mktemp("store_wh")))
    srv = SnowflakeServer(eng, port=0)
    srv.start()
    yield srv
    srv.stop()


def _call(server, method, path, body=None, token=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        data=json.dumps(body or {}).encode() if method != "GET" else None, method=method)
    req.add_header("Content-Type", "application/json")
    if token:
        req.add_header("Authorization", f'Snowflake Token="{token}"')
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _login(server):
    return _call(server, "POST", "/session/v1/login-request", {"data": {}})[1]["data"]["token"]


def _wait_for_job(server, query_id):
    """Block until Spark runs a job of the statement ``query_id``."""
    store = server.engine.statements
    tracker = server.engine.spark.sparkContext.statusTracker()
    for _ in range(600):
        st = store.get(query_id)
        if st is not None and tracker.getJobIdsForGroup(st.job_group):
            return st
        time.sleep(0.05)
    raise AssertionError(f"no job started for {query_id}")


def _history_ids(engine, ctx):
    res = engine.execute("SHOW QUERY HISTORY", ctx)
    return {r[res.columns.index("query_id")] for r in res.rows}


def test_engine_level_statements_have_query_ids(engine, ctx, tmp_path):
    src = tmp_path / "f.csv"
    src.write_text("1\n2\n")
    ids = []
    for sql in ("CREATE STAGE QS", f"PUT file://{src} @QS", "LIST @QS", "SET V = 1",
                "BEGIN", "COMMIT"):
        res = engine.execute(sql, ctx)
        assert res.query_id, sql
        ids.append(res.query_id)
    assert len(set(ids)) == len(ids)
    assert set(ids) <= _history_ids(engine, ctx)


def test_result_scan_after_list_reads_list_rows(engine, ctx, tmp_path):
    src = tmp_path / "f.csv"
    src.write_text("1\n")
    engine.execute("CREATE STAGE LS", ctx)
    engine.execute(f"PUT file://{src} @LS", ctx)
    assert engine.execute("SELECT 42", ctx).rows == [[42]]
    listed = engine.execute("LIST @LS", ctx)
    res = engine.execute("SELECT * FROM TABLE(RESULT_SCAN(LAST_QUERY_ID()))", ctx)
    assert res.rows == listed.rows == [["ls/f.csv", "2", "", ""]]


def test_set_errors_are_snowflake_codes(engine, ctx):
    with pytest.raises(errors.SnowflakeError) as exc:
        engine.execute("SET V = NOSUCHCOL", ctx)
    assert exc.value.code == "000904"
    with pytest.raises(errors.SnowflakeError) as exc:
        engine.execute("SET V = 1 +* 2", ctx)
    assert exc.value.code == "001003"
    failed = [st for st in engine.statements.recent(100) if st.sql.startswith("SET V")]
    assert [st.error.code for st in failed] == ["000904", "001003"]


def test_set_errors_over_the_wire(server):
    token = _login(server)
    for sql, code in (("SET V = NOSUCHCOL", "000904"), ("SET V = 1 +* 2", "001003")):
        st, out = _call(server, "POST", "/queries/v1/query-request", {"sqlText": sql}, token)
        assert st == 200 and out["success"] is False and out["code"] == code, out


def test_sync_query_resolves_on_every_surface(server):
    token = _login(server)
    st, out = _call(server, "POST", "/queries/v1/query-request",
                    {"sqlText": "SELECT 7 AS seven"}, token)
    qid = out["data"]["queryId"]
    assert qid
    st, mon = _call(server, "GET", f"/monitoring/queries/{qid}", token=token)
    assert mon["data"]["queries"][0]["status"] == "SUCCESS"
    st, res = _call(server, "GET", f"/queries/{qid}/result", token=token)
    assert res["success"] and res["data"]["rowset"] == [["7"]]
    st, rs = _call(server, "POST", "/queries/v1/query-request",
                   {"sqlText": f"SELECT * FROM TABLE(RESULT_SCAN('{qid}'))"}, token)
    assert rs["data"]["rowset"] == [["7"]]


def test_abort_by_request_id_cancels_a_running_sync_query(server):
    token = _login(server)
    rid = "req-" + str(time.time_ns())
    out = {}

    def run():
        out["reply"] = _call(server, "POST", f"/queries/v1/query-request?requestId={rid}",
                             {"sqlText": HEAVY}, token)

    t = threading.Thread(target=run)
    t.start()
    _wait_for_job(server, rid)
    st, ab = _call(server, "POST", "/queries/v1/abort-request", {"requestId": rid}, token)
    assert ab["success"] and ab["message"] == "query aborted"
    t.join(120)
    st, reply = out["reply"]
    assert st == 200 and reply["success"] is False and reply["code"] == "000604"
    rec = server.engine.statements.get(rid)
    assert rec.status is statements_mod.StatementStatus.CANCELED


def test_running_async_record_survives_newer_submissions(server, monkeypatch):
    monkeypatch.setattr(statements_mod, "HISTORY_CAP", 3)
    release = threading.Event()
    execute = server.engine.executor.execute

    def held(sql, ctx, bindings=None):
        if sql == "SELECT 'held' AS h":
            release.wait(60)
        return execute(sql, ctx, bindings)

    monkeypatch.setattr(server.engine.executor, "execute", held)
    token = _login(server)
    st, out = _call(server, "POST", "/queries/v1/query-request",
                    {"sqlText": "SELECT 'held' AS h", "asyncExec": True}, token)
    qid = out["data"]["queryId"]
    for i in range(8):
        _call(server, "POST", "/queries/v1/query-request", {"sqlText": f"SELECT {i}"}, token)
    assert len(server.engine.statements.recent(100)) == 3
    st, mon = _call(server, "GET", f"/monitoring/queries/{qid}", token=token)
    assert mon["data"]["queries"][0]["status"] == "RUNNING"
    release.set()
    for _ in range(400):
        st, mon = _call(server, "GET", f"/monitoring/queries/{qid}", token=token)
        if mon["data"]["queries"][0]["status"] != "RUNNING":
            break
        time.sleep(0.05)
    assert mon["data"]["queries"][0]["status"] == "SUCCESS"
    st, res = _call(server, "GET", f"/queries/{qid}/result", token=token)
    assert res["success"] and res["data"]["rowset"] == [["held"]]


def test_rest_v2_results_are_bounded_by_count(server):
    store = server.engine.statements
    cap = store._result_store_cap
    store._result_store_cap = 2
    try:
        handles = [_call(server, "POST", "/api/v2/statements",
                         {"statement": f"SELECT {i} AS n"})[1]["statementHandle"]
                   for i in range(3)]
        st, out = _call(server, "GET", f"/api/v2/statements/{handles[0]}")
        assert st == 422 and "expired" in out["message"]
        st, out = _call(server, "GET", f"/api/v2/statements/{handles[2]}")
        assert st == 200 and out["data"] == [[2]]
        # cancel finds the record by its handle; a finished one stays as it is
        st, out = _call(server, "POST", f"/api/v2/statements/{handles[2]}/cancel")
        assert st == 200 and out["status"] == "success"
        st, out = _call(server, "POST", "/api/v2/statements/01no-such/cancel")
        assert st == 404 and out["code"] == "390144"
    finally:
        store._result_store_cap = cap


def test_history_log_is_rotated_and_reloaded_from_its_tail(engine, ctx, monkeypatch):
    monkeypatch.setattr(statements_mod, "HISTORY_CAP", 3)
    path = engine.statements._log_path
    for i in range(9):
        engine.execute(f"SELECT {i}", ctx)
        with open(path) as f:
            assert len(f.readlines()) <= 6
    reloaded = statements_mod.StatementStore(engine.spark, path)
    assert [st.sql for st in reloaded.recent(100)] == ["SELECT 6", "SELECT 7", "SELECT 8"]
    # a log past the cap (written by an older engine) is cut to its tail
    with open(path, "a") as f:
        for i in range(10):
            f.write(json.dumps({"query_id": f"01old-{i}", "sql": f"OLD {i}",
                                "status": "SUCCESS", "start": 1.0, "ms": 1}) + "\n")
    reloaded = statements_mod.StatementStore(engine.spark, path)
    assert [st.sql for st in reloaded.recent(100)] == ["OLD 7", "OLD 8", "OLD 9"]
    with open(path) as f:
        assert len(f.readlines()) == 3


def test_rollback_deletes_the_rolled_back_version(engine, ctx):
    engine.execute("CREATE TABLE RB (X INTEGER)", ctx)           # v1
    engine.execute("INSERT INTO RB VALUES (1)", ctx)             # v2
    engine.execute("BEGIN", ctx)
    engine.execute("INSERT INTO RB VALUES (2)", ctx)             # v3
    engine.execute("ROLLBACK", ctx)
    assert engine.execute("SELECT * FROM RB", ctx).rows == [[1]]
    with pytest.raises(errors.SnowflakeError, match="Time travel data is not available"):
        engine.execute("SELECT * FROM RB AT(VERSION => 3)", ctx)
    tm = engine.catalog.get_table("RB", ctx.database, ctx.schema)
    assert not os.path.isdir(tm.version_path(3))
    assert not [t.name for t in engine.spark.catalog.listTables()
                if re.fullmatch(rf"__t{tm.uid}_v3", t.name)]


def test_rollback_waits_for_another_sessions_write(engine, monkeypatch):
    """A ROLLBACK deletes versions only under the table's write lock, so
    it cannot delete the dirs a write in another session is building."""
    a, b = SessionContext(), SessionContext()
    engine.execute("CREATE TABLE RW (X INTEGER)", a)             # v1
    engine.execute("INSERT INTO RW VALUES (1)", a)               # v2
    engine.execute("BEGIN", a)
    engine.execute("INSERT INTO RW VALUES (2)", a)               # v3
    built, release = threading.Event(), threading.Event()
    publish = engine.catalog._publish

    def held_publish(tm, version):
        if tm.name == "RW":
            built.set()
            release.wait(60)
        publish(tm, version)

    monkeypatch.setattr(engine.catalog, "_publish", held_publish)
    out = {}

    def write():
        out["b"] = engine.execute("INSERT INTO RW VALUES (3)", b)  # v4

    def rollback():
        out["a"] = engine.execute("ROLLBACK", a)

    writer = threading.Thread(target=write)
    writer.start()
    assert built.wait(60)
    roller = threading.Thread(target=rollback)
    roller.start()
    roller.join(1.0)
    assert roller.is_alive()  # waiting for the write lock
    release.set()
    writer.join(60)
    roller.join(60)
    assert out["b"].rows_inserted == 1 and out["a"].query_id
    tm = engine.catalog.get_table("RW", a.database, a.schema)
    assert tm.version == 2 and os.path.isdir(tm.version_path())
    assert engine.execute("SELECT * FROM RW", b).rows == [[1]]
    assert not any(os.path.isdir(tm.version_path(v)) for v in (3, 4))


def test_cancel_after_the_work_is_done_reports_success(engine, ctx):
    """A cancel that arrives once an INSERT has published its version
    undoes nothing, so the statement and its record report SUCCESS."""
    engine.execute("CREATE TABLE CF (X INTEGER)", ctx)
    store = engine.statements
    run = engine._run

    def insert_then_cancel(sql, ctx, bindings=None):
        res = run(sql, ctx, bindings)
        if sql.startswith("INSERT"):
            assert store.cancel(store._tl.stack[-1].query_id).status is (
                statements_mod.StatementStatus.CANCELED)
        return res

    engine._run = insert_then_cancel
    try:
        res = engine.execute("INSERT INTO CF VALUES (1)", ctx)
    finally:
        del engine._run
    assert res.rows_inserted == 1
    rec = store.get(res.query_id)
    assert rec.status is statements_mod.StatementStatus.SUCCESS and rec.error is None
    assert engine.execute("SELECT * FROM CF", ctx).rows == [[1]]


def test_handle_results_outlast_other_sessions_statements(server, monkeypatch):
    """An async or REST v2 result stays fetchable however many
    statements other sessions run before the client fetches it."""
    monkeypatch.setattr(config, "RESULT_STREAM_THRESHOLD", 50)
    monkeypatch.setattr(config, "RESULT_STREAM_BATCH", 16)
    store = server.engine.statements
    monkeypatch.setattr(store, "_result_store_cap", 2)
    token, other = _login(server), _login(server)
    st, out = _call(server, "POST", "/queries/v1/query-request",
                    {"sqlText": "SELECT 'later' AS l", "asyncExec": True}, token)
    qid = out["data"]["queryId"]
    for _ in range(400):
        if store.get(qid).status is not statements_mod.StatementStatus.RUNNING:
            break
        time.sleep(0.05)
    st, out = _call(server, "POST", "/api/v2/statements", {
        "statement": "SELECT seq4() AS n FROM TABLE(GENERATOR(ROWCOUNT => 40))"})
    handle = out["statementHandle"]
    assert len(out["resultSetMetaData"]["partitionInfo"]) == 1
    st, out = _call(server, "POST", "/api/v2/statements", {
        "statement": "SELECT seq4() AS n FROM TABLE(GENERATOR(ROWCOUNT => 100))"})
    parts = out["statementHandle"]
    for i in range(5):
        _call(server, "POST", "/queries/v1/query-request", {"sqlText": f"SELECT {i}"}, other)
    st, res = _call(server, "GET", f"/queries/{qid}/result", token=token)
    assert res["success"] and res["data"]["rowset"] == [["later"]]
    st, page = _call(server, "GET", f"/api/v2/statements/{parts}?partition=6")
    assert st == 200 and len(page["data"]) == 4
    # a fetched result joins the RESULT_SCAN window: the one-partition
    # one, fetched by its submit, has been pushed out of it since
    assert store.get(qid).result is not None and store.get(parts).result is not None
    assert store.get(handle).result is None


def test_concurrent_runs_keep_the_store_bounded_and_consistent(engine, monkeypatch):
    monkeypatch.setattr(statements_mod, "HISTORY_CAP", 50)
    store = engine.statements
    store._result_store_cap = 10
    ids = []

    def work():
        for _ in range(40):
            ids.append(store.run("SELECT 'x'", lambda: Result.status("ok")).query_id)

    threads = [threading.Thread(target=work) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(set(ids)) == 320
    records = store.recent(1000)
    assert len(records) == 50
    assert all(st.status is statements_mod.StatementStatus.SUCCESS for st in records)
    assert len(store._results) == 10 == sum(st.result is not None for st in records)
    with open(store._log_path) as f:
        assert len(f.readlines()) == store._logged <= 100
