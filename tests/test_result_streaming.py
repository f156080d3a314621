"""Large-result streaming (r8, VERDICT r7 item 3): above
``config.RESULT_STREAM_THRESHOLD`` rows a SELECT is never
materialized on the driver — ``Result.from_dataframe`` returns a
StreamedResult holding the DataFrame, and the gosnowflake protocol
layer writes the rowset to the wire batch-by-batch. Small results
stay byte-identical (the reference buffers every rowset,
pkg/query/executor.go:99-119 — this is a beyond-reference upgrade)."""

import json
import urllib.request

import pytest

from snowflake_emulator_spark import config
from snowflake_emulator_spark.result import Result, StreamedResult


@pytest.fixture()
def low_threshold(monkeypatch):
    monkeypatch.setattr(config, "RESULT_STREAM_THRESHOLD", 50)
    monkeypatch.setattr(config, "RESULT_STREAM_BATCH", 16)
    yield


def test_small_result_materializes_exactly_as_before(spark):
    df = spark.range(5).selectExpr("id", "id * 2 AS twice")
    res = Result.from_dataframe(df)
    assert type(res) is Result
    assert sorted(res.rows) == [[i, 2 * i] for i in range(5)]
    assert res.row_count == 5


def test_large_result_streams(spark, low_threshold):
    df = spark.range(200).selectExpr("id", "CAST(id AS STRING) AS s")
    res = Result.from_dataframe(df)
    assert isinstance(res, StreamedResult)
    # row_count is a distributed count, not a materialization
    assert res.row_count == 200
    assert res._rows_cache is None
    # iter_rows drains in batches without caching
    batches = list(res.iter_rows())
    assert all(len(b) <= 16 for b in batches)
    flat = [r for b in batches for r in b]
    assert sorted(r[0] for r in flat) == list(range(200))
    assert res._rows_cache is None
    # .rows compatibility fallback materializes once and caches
    assert len(res.rows) == 200
    assert res._rows_cache is not None


def test_streamed_rowset_strings_batches(spark, low_threshold):
    df = spark.range(120).selectExpr("id")
    res = Result.from_dataframe(df)
    assert isinstance(res, StreamedResult)
    rows = [r for b in res.iter_rowset_strings() for r in b]
    assert sorted(rows) == sorted([[str(i)] for i in range(120)])


def test_threshold_boundary_is_not_streamed(spark, low_threshold):
    df = spark.range(50)
    res = Result.from_dataframe(df)
    assert type(res) is Result and res.row_count == 50


def test_server_streams_large_rowset(spark, tmp_path, low_threshold):
    """End-to-end over HTTP: a 200-row SELECT rides the streaming
    (Connection: close, no Content-Length) path and parses into the
    same envelope a buffered response would produce."""
    from snowflake_emulator_spark.engine import Engine
    from snowflake_emulator_spark.server.app import SnowflakeServer

    eng = Engine(spark, base_dir=str(tmp_path / "wh"))
    srv = SnowflakeServer(eng, port=0)
    srv.start()
    try:
        def call(body, token=None):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/queries/v1/query-request"
                if token else
                f"http://127.0.0.1:{srv.port}/session/v1/login-request",
                data=json.dumps(body).encode(), method="POST")
            req.add_header("Content-Type", "application/json")
            if token:
                req.add_header("Authorization", f'Snowflake Token="{token}"')
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())

        _, out = call({"data": {}})
        token = out["data"]["token"]
        st, out = call({"sqlText":
                        "SELECT seq4() AS n FROM TABLE(GENERATOR(ROWCOUNT => 200))"},
                       token)
        assert st == 200 and out["success"], out
        assert out["data"]["total"] == 200
        assert len(out["data"]["rowset"]) == 200
        assert sorted(int(r[0]) for r in out["data"]["rowset"]) == list(range(200))
        # small results still ride the buffered Content-Length path
        st, out = call({"sqlText": "SELECT 1 AS v"}, token)
        assert out["data"]["rowset"] == [["1"]]
    finally:
        srv.stop()


def test_restv2_partitioned_fetch(spark, tmp_path, low_threshold):
    """REST v2 partition-style fetch (Snowflake SQL-API shape): a
    streamed result advertises partitionInfo and serves each
    ?partition=N on demand; walking the partitions reassembles the
    full rowset without the server ever holding it whole."""
    from snowflake_emulator_spark.engine import Engine
    from snowflake_emulator_spark.result import StreamedResult
    from snowflake_emulator_spark.server.app import SnowflakeServer

    eng = Engine(spark, base_dir=str(tmp_path / "wh2"))
    srv = SnowflakeServer(eng, port=0)
    srv.start()
    try:
        def call(method, path, body=None):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}{path}",
                data=json.dumps(body).encode() if body is not None else None,
                method=method)
            req.add_header("Content-Type", "application/json")
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())

        st, out = call("POST", "/api/v2/statements", {
            "statement":
                "SELECT seq4() AS n FROM TABLE(GENERATOR(ROWCOUNT => 100))"})
        assert out["status"] == "success", out
        handle = out["statementHandle"]
        # the result is streamed (threshold 50, batch 16)
        assert isinstance(srv.engine.statements.get(handle).result, StreamedResult)
        meta = out["resultSetMetaData"]
        assert meta["numRows"] == 100
        counts = [p["rowCount"] for p in meta["partitionInfo"]]
        assert sum(counts) == 100 and all(c <= 16 for c in counts)
        # partition 0 data came inline; fetch the rest in order
        rows = list(out["data"])
        for i in range(1, len(counts)):
            st2, page = call("GET", f"/api/v2/statements/{handle}?partition={i}")
            assert len(page["data"]) == counts[i]
            rows.extend(page["data"])
        assert sorted(int(r[0]) for r in rows) == list(range(100))
        # re-fetching an EARLIER partition restarts the cursor but
        # still returns the right rows
        st3, page1 = call("GET", f"/api/v2/statements/{handle}?partition=1")
        assert len(page1["data"]) == counts[1]
        assert page1["data"] == rows[counts[0]:counts[0] + counts[1]]
    finally:
        srv.stop()


def test_streamed_arrow_encoding_does_not_materialize(spark, low_threshold):
    """The Arrow wire path encodes batch-by-batch from iter_rows — a
    streamed result's .rows cache stays empty after encoding, and the
    IPC stream round-trips every row."""
    import base64

    import pyarrow as pa

    from snowflake_emulator_spark.result import Result, StreamedResult

    df = spark.range(150).selectExpr("id", "CAST(id AS STRING) AS s")
    res = Result.from_dataframe(df)
    assert isinstance(res, StreamedResult)
    raw = base64.b64decode(res.rowset_arrow_base64())
    assert res._rows_cache is None
    table = pa.ipc.open_stream(raw).read_all()
    assert table.num_rows == 150
    assert sorted(table.column("id").to_pylist()) == list(range(150))
