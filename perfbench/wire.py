"""Minimal wire client: the gosnowflake query protocol.

Each client holds one ``http.client`` connection (the server answers
HTTP/1.0, so every request opens a new TCP connection) and counts the
bytes of every response body, so the load generator can report
response bytes per row.
"""

from __future__ import annotations

import http.client
import json

from tracing import KIND_HEADER, OP_HEADER


class QueryError(Exception):
    def __init__(self, code, message):
        super().__init__(f"{code}: {message}")
        self.code = code


class _Http:
    def __init__(self, host: str, port: int):
        self.conn = http.client.HTTPConnection(host, port, timeout=170)
        self.trace: tuple[str, str] | None = None  # (op id, kind) header values

    def request(self, method: str, path: str, body=None, headers=None):
        h = {"Content-Type": "application/json", "Accept": "application/json"}
        h.update(headers or {})
        if self.trace is not None:
            h[OP_HEADER], h[KIND_HEADER] = self.trace
        self.conn.request(method, path, None if body is None else json.dumps(body), h)
        resp = self.conn.getresponse()
        raw = resp.read()
        return resp.status, (json.loads(raw) if raw else None), len(raw)

    def close(self) -> None:
        self.conn.close()


class GoSession(_Http):
    """A gosnowflake-protocol session: login, statements, logout."""

    def __init__(self, host: str, port: int):
        super().__init__(host, port)
        self.token: str | None = None

    def login(self) -> None:
        data = {"LOGIN_NAME": "perfbench", "ACCOUNT_NAME": "perfbench"}
        _st, out, _n = self.request("POST", "/session/v1/login-request", {"data": data})
        if not out or not out.get("success"):
            raise QueryError("login", out)
        self.token = out["data"]["token"]

    def logout(self) -> None:
        self.request("POST", "/session/logout", {"token": self.token})
        self.token = None

    def query(self, sql: str, bindings: dict | None = None, bind_stage: str | None = None):
        """Run one statement; returns (rowset, data, response bytes)."""
        body = {"sqlText": sql, "sequenceId": 1}
        if bindings:
            body["bindings"] = bindings
        if bind_stage:
            body["bindStage"] = bind_stage
        _st, out, n = self.request("POST", "/queries/v1/query-request", body,
                                   {"Authorization": f'Snowflake Token="{self.token}"'})
        if not out or not out.get("success"):
            raise QueryError((out or {}).get("code"), (out or {}).get("message"))
        return out["data"].get("rowset") or [], out["data"], n
