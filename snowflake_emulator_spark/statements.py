"""Per-query records: one bounded store of every statement's state.

Every statement ``Engine.execute`` runs gets one record, keyed by its
query id, and every per-query surface reads it (docs/DESIGN.md, "Query
lifecycle"). It plays the part of the reference's statement manager
(`pkg/query/statement_manager.go:16-44`) and query-history table
(`pkg/metadata/repository.go:1213-1378`) both. Memory holds the newest
``HISTORY_CAP`` records, never evicting a RUNNING one, and the newest
``_result_store_cap`` results; a result a client fetches by handle
(async, REST v2) is held apart until it has been fetched. Finished
records are appended to a JSONL log under the warehouse dir, rewritten
to its newest ``HISTORY_CAP`` lines once it passes twice that; an
engine start reloads its tail.
Cancel is the analog of the reference's context cancelFunc: the
outermost statement on a thread runs under a Spark job group named by
its query id, which ``cancel`` interrupts.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from enum import Enum
from itertools import islice

from . import errors
from .result import Result

# records kept in memory and reloaded from the log
HISTORY_CAP = 1000


def new_query_id() -> str:
    """Snowflake-shaped query id, also the REST v2 statement handle."""
    return "01" + format(int(time.time() * 1000), "x") + "-" + uuid.uuid4().hex[:12]


class StatementStatus(str, Enum):
    RUNNING = "RUNNING"
    SUCCESS = "SUCCESS"
    FAILED = "FAILED"
    CANCELED = "CANCELED"


@dataclass(eq=False)
class Statement:
    query_id: str
    sql: str
    request_id: str | None = None
    status: StatementStatus = StatementStatus.RUNNING
    start: float = field(default_factory=time.time)
    end: float | None = None
    rows: int = 0
    error: errors.SnowflakeError | None = None
    job_group: str | None = None
    result: Result | None = None
    # the temp view RESULT_SCAN registered over ``result``
    view: str | None = None
    # a client fetches the result by this id later (async, REST v2):
    # it stays out of the RESULT_SCAN window until ``fetched``
    held: bool = False

    def to_json(self) -> dict:
        return {"query_id": self.query_id, "sql": self.sql, "status": self.status.value,
                "start": self.start, "end": self.end, "rows": self.rows,
                "error": self.error and self.error.message,
                "error_code": self.error and self.error.code}

    @classmethod
    def from_json(cls, e: dict) -> "Statement":
        start = float(e["start"])
        # older logs carry the duration "ms" instead of the end instant
        end = e.get("end") or start + (e.get("ms", 0) + 1) / 1000.0
        error = e.get("error") and errors.SnowflakeError(e.get("error_code") or "", e["error"])
        return cls(e["query_id"], e["sql"], status=StatementStatus(e["status"]),
                   start=start, end=float(end), rows=e.get("rows", 0), error=error or None)


def _tail(path: str, n: int) -> tuple[list[bytes], bool]:
    """The last ``n`` lines of ``path``, read backwards in blocks, and
    whether they are the whole file."""
    with open(path, "rb") as f:
        pos = f.seek(0, os.SEEK_END)
        buf = b""
        while pos > 0 and buf.count(b"\n") <= n:
            step = min(1 << 16, pos)
            pos -= step
            f.seek(pos)
            buf = f.read(step) + buf
    lines = buf.splitlines(keepends=True)
    return lines[-n:], pos == 0 and len(lines) <= n


class StatementStore:
    def __init__(self, spark, log_path: str):
        self.spark = spark
        self._lock = threading.Lock()
        self._opened = threading.Condition(self._lock)
        # query id -> record, oldest first
        self._records: OrderedDict[str, Statement] = OrderedDict()
        # query ids of the records holding a result, oldest first
        self._results: OrderedDict[str, None] = OrderedDict()
        self._result_store_cap = 100
        # this thread's open records, outermost first
        self._tl = threading.local()
        self._log_path = log_path
        self._log_lock = threading.Lock()
        self._logged = 0  # lines in the log
        self._load()

    def get(self, id_: str) -> Statement | None:
        """The record of a query id, or of a gosnowflake request id."""
        with self._lock:
            st = self._records.get(id_)
            if st is None and id_:
                st = next((s for s in reversed(self._records.values())
                           if s.request_id == id_), None)
        return st

    def recent(self, n: int) -> list[Statement]:
        with self._lock:
            return list(self._records.values())[-n:]

    def result(self, query_id: str | None) -> Result:
        st = self.get(query_id or "")
        res = st and st.result  # read once: eviction may drop it meanwhile
        if res is None:
            raise errors.execution_error(
                f"Result for query id {query_id or '<none>'} not found or expired")
        return res

    def wait(self, query_id: str, timeout: float = 10.0) -> Statement | None:
        """The record of ``query_id`` once another thread has opened it."""
        with self._opened:
            self._opened.wait_for(lambda: query_id in self._records, timeout)
            return self._records.get(query_id)

    def run(self, sql: str, fn, query_id: str | None = None,
            request_id: str | None = None) -> Result:
        """Run ``fn() -> Result`` as the statement ``sql`` under its
        record; raise its error mapped onto a Snowflake code. A given
        ``query_id`` is a handle the caller passes to a client that
        fetches the result later: its result is held until ``fetched``
        or until the record leaves ``HISTORY_CAP``."""
        stack = self._tl.__dict__.setdefault("stack", [])
        qid = query_id or new_query_id()
        st = Statement(qid, sql, request_id, job_group=stack[0].job_group if stack else qid,
                       held=query_id is not None)
        with self._lock:
            old = self._records.pop(st.query_id, None)
            self._records[st.query_id] = st
            finished = (s for s in self._records.values()
                        if s.status is not StatementStatus.RUNNING)
            doomed = list(islice(finished, max(0, len(self._records) - HISTORY_CAP)))
            for s in doomed:
                del self._records[s.query_id]
            views = self._release(doomed + ([old] if old is not None else []))
            self._opened.notify_all()
        stack.append(st)
        try:
            self._drop_views(views)
            if len(stack) == 1:
                self.spark.sparkContext.setJobGroup(st.job_group, sql[:100], True)
            res = fn()
        except Exception as e:
            self._finish(st, error=errors.from_spark(e))
            if st.error is e:
                raise
            raise st.error from e
        else:
            self._finish(st, res)
            return res
        finally:
            stack.pop()
            if not stack:
                self.spark.sparkContext.setJobGroup("", "")

    def cancel(self, id_: str) -> Statement | None:
        """Cancel a RUNNING statement by query id or request id: its
        running and later Spark jobs fail and, if its run then fails, it
        ends CANCELED. A run that returns had done its work, and ends
        SUCCESS."""
        st = self.get(id_)
        if st is None:
            return None
        with self._lock:
            running = st.status is StatementStatus.RUNNING
            if running:
                st.status, st.error = StatementStatus.CANCELED, errors.canceled()
        if running:
            # its later jobs too: a cancel between two jobs still stops it
            self.spark.sparkContext._jsc.sc().cancelJobGroupAndFutureJobs(st.job_group)
        return st

    def fetched(self, query_id: str) -> None:
        """The client has fetched the held result of ``query_id``: from
        now on the RESULT_SCAN window keeps it, as any other."""
        views = []
        with self._lock:
            st = self._records.get(query_id)
            if st is not None and st.held:
                st.held = False
                if st.result is not None:
                    views = self._window(st)
        self._drop_views(views)

    def _finish(self, st: Statement, res: Result | None = None,
                error: errors.SnowflakeError | None = None) -> None:
        views = []
        with self._lock:
            st.end = time.time()
            if error is not None:
                if st.status is StatementStatus.RUNNING:  # else a cancel won
                    st.status, st.error = StatementStatus.FAILED, error
            else:
                # the work is done: a cancel that came after it undid nothing
                st.status, st.error = StatementStatus.SUCCESS, None
                st.rows = res.row_count or res.rows_inserted + res.rows_updated + res.rows_deleted
                res.query_id = st.query_id
                if res.columns and self._records.get(st.query_id) is st:
                    st.result = res
                    if not st.held:
                        views = self._window(st)
            line = json.dumps(st.to_json(), default=str) + "\n"
        self._drop_views(views)
        self._log(line)

    def _window(self, st: Statement) -> list[str]:
        """Put ``st``'s result in the RESULT_SCAN window, the newest
        ``_result_store_cap`` (under the lock); return the views of the
        results it pushes out."""
        self._results[st.query_id] = None
        excess = max(0, len(self._results) - self._result_store_cap)
        return self._release([self._records[q] for q in islice(self._results, excess)])

    def _release(self, doomed: list[Statement]) -> list[str]:
        """Drop the results of ``doomed`` (under the lock); return their views."""
        views = []
        for st in doomed:
            self._results.pop(st.query_id, None)
            st.result = None
            if st.view is not None:
                views.append(st.view)
                st.view = None
        return views

    def _drop_views(self, views: list[str]) -> None:
        for view in views:
            self.spark.catalog.dropTempView(view)

    def _load(self) -> None:
        try:
            os.makedirs(os.path.dirname(self._log_path), exist_ok=True)
            lines, whole = _tail(self._log_path, HISTORY_CAP)
        except OSError:
            return
        for ln in lines:
            try:
                st = Statement.from_json(json.loads(ln))
            except (ValueError, KeyError, TypeError):
                continue  # a torn or foreign line: skip it, never fail startup
            self._records[st.query_id] = st
        if whole:
            self._logged = len(lines)
        else:
            self._rewrite(lines)

    def _log(self, line: str) -> None:
        try:
            with self._log_lock:
                with open(self._log_path, "a", encoding="utf-8") as f:
                    f.write(line)
                self._logged += 1
                if self._logged > 2 * HISTORY_CAP:
                    self._rewrite(_tail(self._log_path, HISTORY_CAP)[0])
        except OSError:
            pass  # history is best-effort; never fail the statement

    def _rewrite(self, lines: list[bytes]) -> None:
        tmp = self._log_path + ".tmp"
        with open(tmp, "wb") as f:
            f.writelines(lines)
        os.replace(tmp, self._log_path)
        self._logged = len(lines)
