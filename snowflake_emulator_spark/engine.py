"""Engine facade: the one object a client (or the HTTP server) talks to.

Wires SparkSession + Catalog + Executor + managers, and implements the
statement surface the reference routes in its executor
(`pkg/query/executor.go:299-426`), plus session variables and
parameters. ``Engine.execute`` is the one entry for a statement and the
one place that opens its record in the statement store
(``statements.py``), engine-level statements included.

Transactions are per session, as the reference's per-connection DuckDB
transactions are (`executor.go:399-426`). BEGIN snapshots every table's
version pointer and pins those versions against GC; the session's
writes are captured per thread while its statements run; ROLLBACK
restores only the tables it wrote and deletes the versions rolled back
past, so other sessions' commits survive. COMMIT drops the snapshot.
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession

from . import errors
from .catalog import Catalog
from .executor import Executor, SessionContext
from .result import ColumnMetadata, Result
from .session_factory import build_spark, ensure_engine_confs
from .sources.stage import StageManager
from .statements import StatementStore
from .warehouse import WarehouseManager

# stage file statements (gosnowflake sends these as plain sqlText)
_PUT_RE = re.compile(
    r"^\s*PUT\s+('?file://[^\s']+'?)\s+@([\w.\"$/\-]+)"
    r"(?:\s+.*)?$", re.I | re.S)
_LIST_STAGE_RE = re.compile(r"^\s*(?:LIST|LS)\s+@([\w.\"$/\-]+)\s*$", re.I)
_GET_STAGE_RE = re.compile(
    r"^\s*GET\s+@([\w.\"$/\-]+)\s+('?file://[^\s']+'?)(?:\s+.*)?$", re.I | re.S)
_REMOVE_STAGE_RE = re.compile(r"^\s*(?:REMOVE|RM)\s+@([\w.\"$/\-]+)\s*$", re.I)
_CREATE_WH_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?WAREHOUSE\s+(IF\s+NOT\s+EXISTS\s+)?([\w\"$]+)(.*)$", re.I | re.S
)
_ALTER_WH_RE = re.compile(r"^\s*ALTER\s+WAREHOUSE\s+([\w\"$]+)\s+(RESUME|SUSPEND)\s*$", re.I)
_DROP_WH_RE = re.compile(r"^\s*DROP\s+WAREHOUSE\s+(IF\s+EXISTS\s+)?([\w\"$]+)\s*$", re.I)
def _split_statements(sql: str) -> list[str]:
    """Split a script on top-level ';' — quote-, $$- and comment-aware
    (UDF bodies and string literals keep their semicolons; a ';' or an
    apostrophe inside ``-- ...`` / ``/* ... */`` comments must not
    split or open a string)."""
    parts, buf = [], []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if sql.startswith("--", i):
            j = sql.find("\n", i + 2)
            j = n if j < 0 else j + 1
            buf.append(sql[i:j])
            i = j
            continue
        if sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n - 2 if j < 0 else j
            buf.append(sql[i:j + 2])
            i = j + 2
            continue
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            buf.append(sql[i:j + 1])
            i = j + 1
            continue
        if c == '"':
            # double-quoted IDENTIFIERS ("a;b", "it's") must not split
            # on their ';' nor open the single-quote scanner on their
            # apostrophe ("" escapes a quote inside)
            j = i + 1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        j += 2
                        continue
                    break
                j += 1
            buf.append(sql[i:j + 1])
            i = j + 1
            continue
        if sql.startswith("$$", i):
            j = sql.find("$$", i + 2)
            j = n - 2 if j < 0 else j
            buf.append(sql[i:j + 2])
            i = j + 2
            continue
        if c == ";":
            stmt = "".join(buf).strip()
            if stmt:
                parts.append(stmt)
            buf = []
            i += 1
            continue
        buf.append(c)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    # statements that BEGIN with comment spans would defeat the regex
    # classifiers (^\s*CREATE ...); strip leading comments, drop
    # comment-only statements
    parts = [p for p in (_strip_leading_comments(s) for s in parts) if p]
    return parts


def _strip_leading_comments(stmt: str) -> str:
    i, n = 0, len(stmt)
    while i < n:
        if stmt[i].isspace():
            i += 1
        elif stmt.startswith("--", i):
            j = stmt.find("\n", i + 2)
            i = n if j < 0 else j + 1
        elif stmt.startswith("/*", i):
            j = stmt.find("*/", i + 2)
            i = n if j < 0 else j + 2
        else:
            break
    return stmt[i:].strip()


_ALTER_SESSION_SET_RE = re.compile(r"^\s*ALTER\s+SESSION\s+SET\s+(.+)$", re.I | re.S)
# Snowflake session variables: SET v = <expr> / UNSET v / $v substitution
_SET_VAR_RE = re.compile(r"^\s*SET\s+([A-Za-z_]\w*)\s*=\s*(.+)$", re.I | re.S)
_UNSET_VAR_RE = re.compile(r"^\s*UNSET\s+([A-Za-z_]\w*)\s*$", re.I)
_ALTER_SESSION_UNSET_RE = re.compile(r"^\s*ALTER\s+SESSION\s+UNSET\s+(.+)$", re.I | re.S)
_PARAM_PAIR_RE = re.compile(r"(\w+)\s*=\s*('(?:[^']*)'|[^\s,]+)")
# a bulk bind's INSERT: group 1 is everything before VALUES, and the
# match ends at the tuple's open paren
_INSERT_VALUES_RE = re.compile(
    r"^(INSERT\s+INTO\s+[^()]+?(?:\([^)]*\))?\s*)VALUES\s*\(", re.I | re.S)


class Engine:
    # rows per bulk-bind INSERT statement (_run_bind_stage)
    BIND_BATCH_ROWS = 1000

    def __init__(self, spark: SparkSession | None = None, base_dir: str | None = None):
        self.spark = ensure_engine_confs(spark) if spark is not None else build_spark()
        self.catalog = Catalog(self.spark, base_dir=base_dir)
        self.statements = StatementStore(self.spark, os.path.join(
            self.catalog.base_dir, "_metadata", "query_history.jsonl"))
        self.executor = Executor(self.spark, self.catalog, self.statements)
        self.stages = StageManager(self.catalog)
        self.warehouses = WarehouseManager()
        # open transactions keyed by owner id: id(Session) for HTTP
        # sessions (stable across requests), id(ctx) for direct callers
        # holding one SessionContext. Value: (version snapshot, dirty
        # table keys written by this transaction, owner ref, COPY
        # load-history snapshot — rolled back alongside the data so a
        # reverted COPY does not leave LOAD_SKIPPED markers behind).
        self._open_txs: dict[int, tuple[dict, set, object, dict]] = {}
        # CURRENT_TRANSACTION() ids: Snowflake returns an epoch-millis
        # numeric string for the open transaction, NULL outside one
        self._tx_ids: dict[int, str] = {}
        self._tx_lock = threading.Lock()

    # ------------------------------------------------------------------

    def _run_bind_stage(self, sql: str, bind_stage: str, ctx: SessionContext) -> Result:
        """gosnowflake bulk array binds (bind_uploader.go): above the
        client-side threshold the driver CSV-uploads the bind rows to a
        stage and sends ``bindStage: "STAGE_NAME/prefix"``. Each CSV row
        is one execution of the statement with positional TEXT binds:
        ``INSERT INTO t [(cols)] VALUES (<one tuple>)`` runs as an
        INSERT ... SELECT over them (``_insert_bind_rows``), any other
        statement once per row. A NULL bind value binds NULL."""
        from .plans.bindings import bind_table

        path = bind_stage.strip().lstrip("@")
        name, _, prefix = path.partition("/")
        stage = self.catalog.get("STAGE", name, ctx.database, ctx.schema)
        table = bind_table([self.stages.get_file(stage, rel) for rel in
                            self.stages.list_files(stage, prefix=prefix or None)])
        if table is None:
            raise errors.invalid_parameter(
                f"bind stage {bind_stage!r} contains no bind rows")
        s = sql.strip().rstrip(";")
        m = _INSERT_VALUES_RE.match(s)
        if m:
            from .plans.translator import match_paren

            close = match_paren(s, m.end() - 1)
            tuple_ = s[m.end():close]
            # DEFAULT is filled in per VALUES row (Executor._insert)
            if (close == len(s) - 1
                    and not re.search(r"\bDEFAULT\b", tuple_, re.I)):
                return self._insert_bind_rows(m.group(1), tuple_, table, ctx)
        # general statement: one execution per bind row (bounded)
        if table.num_rows > 10_000:
            raise errors.invalid_parameter(
                "bind stage row-per-statement execution is capped at "
                "10000 rows for non-INSERT statements")
        res = None
        for row in zip(*(c.to_pylist() for c in table.columns)):
            binds = {str(j + 1): {"type": "TEXT", "value": v}
                     for j, v in enumerate(row)}
            res = self._run(s, ctx, binds)
        return res

    def _insert_bind_rows(self, head: str, tuple_: str, table,
                          ctx: SessionContext) -> Result:
        """Run ``<head> VALUES (<tuple_>)`` once per bind row, as
        ``<head> SELECT <tuple_> FROM <bind relation>`` once per batch of
        ``BIND_BATCH_ROWS`` rows. The bind relation is a one-partition
        DataFrame of string columns built from an Arrow table (no Python
        workers), and the k-th placeholder of the tuple reads its k-th
        column: each value is a STRING cast to its column's type, as a
        TEXT binding is, and no bind value becomes SQL text. Each batch
        is one statement and one table version; the reply counts the
        last batch, ``rows_inserted`` all of them."""
        import uuid

        from .plans.bindings import bind_column_refs

        select = (f"{head.rstrip()} SELECT "
                  f"{bind_column_refs(tuple_, table.num_columns)} FROM ")
        total = 0
        for i in range(0, table.num_rows, self.BIND_BATCH_ROWS):
            view = f"__binds_{uuid.uuid4().hex[:12]}"
            (self.spark.createDataFrame(table.slice(i, self.BIND_BATCH_ROWS))
             .coalesce(1).createOrReplaceTempView(view))
            try:
                res = self._run(select + view, ctx)
            finally:
                self.spark.catalog.dropTempView(view)
            total += res.rows_inserted
        res.rows_inserted = total
        return res

    def execute(self, sql: str, ctx: SessionContext | None = None,
                bindings: dict | None = None, query_id: str | None = None,
                request_id: str | None = None, bind_stage: str | None = None) -> Result:
        """Run ``sql`` under its record in the statement store (a new
        query id unless ``query_id`` is given; ``request_id`` is the
        gosnowflake client's id, which cancels it too) and return its
        result; a failure raises a SnowflakeError. ``bind_stage`` runs
        it once per row of a staged bind file (``_run_bind_stage``)."""
        ctx = ctx or SessionContext()
        res = self.statements.run(
            sql, lambda: (self._run_bind_stage(sql, bind_stage, ctx) if bind_stage
                          else self._run(sql, ctx, bindings)),
            query_id=query_id, request_id=request_id)
        ctx.last_query_id = res.query_id
        return res

    def _run(self, sql: str, ctx: SessionContext, bindings: dict | None = None) -> Result:
        parts = _split_statements(sql)
        if len(parts) > 1:
            # multi-statement script (gosnowflake MULTI_STATEMENT shape;
            # beyond reference): each statement gets its own record, so
            # every child result is fetchable via RESULT_SCAN('<id>'); the
            # script's result is the last one's (the protocol layer
            # lists the children as data.resultIds, r8)
            res = None
            child_ids: list[str] = []
            for p in parts:
                res = self.execute(p, ctx, bindings)
                child_ids.append(res.query_id)
            res.child_result_ids = child_ids
            return res
        if not parts:
            # comment-only / empty input (Snowflake: 000900)
            raise errors.syntax_error("Empty SQL statement.")
        # use the SPLIT statement, not the raw input: the splitter
        # strips leading comments and trailing comment-only segments
        # that would otherwise defeat every ^\s*KEYWORD classifier below
        s = parts[0].strip().rstrip(";").strip()
        up = s.upper()
        # Snowflake Scripting surface (EXECUTE IMMEDIATE blocks,
        # CREATE PROCEDURE / CALL) — beyond reference
        if up.startswith(("EXECUTE", "CREATE", "CALL")):
            from .plans import scripting

            res = scripting.try_handle(self, s, ctx)
            if res is not None:
                return res
        # stage files and warehouses are handled at engine level
        m = _PUT_RE.match(s)
        if m:
            # local emulation of the client upload: both ends share a
            # filesystem, so PUT reads the file:// source directly (the
            # reference exposes PutFile as an API, manager.go:89; the
            # SQL statement surface is what gosnowflake sends)
            import urllib.parse as _up

            local = _up.unquote(_up.urlparse(m.group(1).strip("'")).path)
            name, _, prefix = m.group(2).partition("/")
            stage = self.catalog.get("STAGE", name, ctx.database, ctx.schema)
            base = os.path.basename(local)
            dest = f"{prefix.rstrip('/')}/{base}" if prefix else base
            self.stages.put_file(stage, local, dest)
            size = os.path.getsize(local)
            r = Result(
                columns=["source", "target", "source_size", "target_size",
                         "source_compression", "target_compression",
                         "status", "message"],
                column_types=[ColumnMetadata(c, "TEXT") for c in
                              ("source", "target", "source_size",
                               "target_size", "source_compression",
                               "target_compression", "status", "message")],
                rows=[[base, dest, str(size), str(size),
                       "NONE", "NONE", "UPLOADED", ""]])
            return r
        m = _LIST_STAGE_RE.match(s)
        if m:
            name, _, prefix = m.group(1).partition("/")
            stage = self.catalog.get("STAGE", name, ctx.database, ctx.schema)
            files = self.stages.list_files(stage, prefix=prefix or None)
            return Result(
                columns=["name", "size", "md5", "last_modified"],
                column_types=[ColumnMetadata(c, "TEXT") for c in
                              ("name", "size", "md5", "last_modified")],
                rows=[[f"{name.lower()}/{rel}",
                       str(os.path.getsize(self.stages._resolve_inside(stage, rel))),
                       "", ""] for rel in files])
        m = _REMOVE_STAGE_RE.match(s)
        if m:
            name, _, prefix = m.group(1).partition("/")
            stage = self.catalog.get("STAGE", name, ctx.database, ctx.schema)
            removed = 0
            for rel in self.stages.list_files(stage, prefix=prefix or None):
                self.stages.remove_file(stage, rel)
                removed += 1
            return Result.status(f"removed {removed} file(s)")
        m = _GET_STAGE_RE.match(s)
        if m:
            # local emulation of the client download (complement of PUT)
            import urllib.parse as _up

            dest_dir = _up.unquote(_up.urlparse(m.group(2).strip("'")).path)
            os.makedirs(dest_dir, exist_ok=True)
            name, _, prefix = m.group(1).partition("/")
            stage = self.catalog.get("STAGE", name, ctx.database, ctx.schema)
            rows = []
            for rel in self.stages.list_files(stage, prefix=prefix or None):
                data = self.stages.get_file(stage, rel)
                out_path = os.path.join(dest_dir, os.path.basename(rel))
                with open(out_path, "wb") as fh:
                    fh.write(data)
                rows.append([os.path.basename(rel), str(len(data)),
                             "DOWNLOADED", ""])
            return Result(
                columns=["file", "size", "status", "message"],
                column_types=[ColumnMetadata(c, "TEXT") for c in
                              ("file", "size", "status", "message")],
                rows=rows)
        m = _CREATE_WH_RE.match(s)
        if m:
            size = "X-SMALL"
            sm = re.search(r"WAREHOUSE_SIZE\s*=\s*'?([\w-]+)'?", m.group(4) or "", re.I)
            if sm:
                size = sm.group(1)
            self.warehouses.create(m.group(3), size, or_replace=bool(m.group(1)),
                                   if_not_exists=bool(m.group(2)))
            return Result.status(f"Warehouse {m.group(3).upper()} successfully created.")
        m = _ALTER_WH_RE.match(s)
        if m:
            self.warehouses.set_state(m.group(1), m.group(2).upper())
            return Result.status("Statement executed successfully.")
        # session parameters (reference: defaults + login overrides,
        # pkg/config/constants.go:27-57, server/handlers/session.go:111-137;
        # ALTER SESSION extends that to statement-level updates)
        # Snowflake session variables (beyond reference): SET evaluates
        # the expression NOW (one scalar query) and stores the value;
        # references substitute as $var inside later statements
        m = _SET_VAR_RE.match(s)
        if m and not re.match(r"SET\s+SESSION\s", up):
            with self.executor._statement_scope():  # pins held through collect
                val = self.executor.query_df(f"SELECT {m.group(2)}", ctx).collect()[0][0]
            self._session_vars(ctx)[m.group(1).upper()] = val
            return Result.status("Statement executed successfully.")
        m = _UNSET_VAR_RE.match(s)
        if m:
            self._session_vars(ctx).pop(m.group(1).upper(), None)
            return Result.status("Statement executed successfully.")
        if re.match(r"^\s*SHOW\s+VARIABLES\s*$", s, re.I):
            rows = [[k, "" if v is None else str(v), type(v).__name__]
                    for k, v in sorted(self._session_vars(ctx).items())]
            return Result(columns=["name", "value", "type"], rows=rows)
        m = _ALTER_SESSION_SET_RE.match(s)
        if m:
            params = self._session_params(ctx)
            for name, val in _PARAM_PAIR_RE.findall(m.group(1)):
                params[name.upper()] = val.strip("'")
            return Result.status("Statement executed successfully.")
        m = _ALTER_SESSION_UNSET_RE.match(s)
        if m:
            params = self._session_params(ctx)
            from . import config as _cfg
            for name in re.findall(r"\w+", m.group(1)):
                up_name = name.upper()
                if up_name in _cfg.DEFAULT_SESSION_PARAMETERS:
                    params[up_name] = _cfg.DEFAULT_SESSION_PARAMETERS[up_name]
                else:
                    params.pop(up_name, None)
            return Result.status("Statement executed successfully.")
        if re.match(r"^\s*SHOW\s+PARAMETERS", s, re.I):
            from . import config as _cfg
            params = {**_cfg.DEFAULT_SESSION_PARAMETERS, **self._session_params(ctx)}
            like = re.search(r"LIKE\s+'([^']*)'", s, re.I)
            pat = (re.escape(like.group(1)).replace("%", ".*")
           .replace("_", ".")) if like else None
            rows = [[k, v, _cfg.DEFAULT_SESSION_PARAMETERS.get(k, "")]
                    for k, v in sorted(params.items())
                    if pat is None or re.fullmatch(pat, k, re.I)]
            return Result(columns=["key", "value", "default"], rows=rows)
        m = _DROP_WH_RE.match(s)
        if m:
            self.warehouses.drop(m.group(2), if_exists=bool(m.group(1)))
            return Result.status(f"{m.group(2).upper()} successfully dropped.")
        if up.startswith("SHOW WAREHOUSES"):
            rows = [[w.name, w.state, w.size] for w in self.warehouses.list()]
            return Result(columns=["name", "state", "size"], rows=rows)
        # transactions (engine level: per-session version-pointer
        # snapshots + per-transaction dirty tracking)
        owner = self._tx_owner(ctx)
        if re.match(r"^(BEGIN|START\s+TRANSACTION)\b", up):
            with self._tx_lock:
                # BEGIN inside an open transaction is a no-op (Snowflake
                # semantics: the original transaction stays open)
                if owner not in self._open_txs:
                    # keep a strong reference to the owning object: the
                    # tx is keyed by id(), and without the ref CPython
                    # could reuse the address for an unrelated later
                    # session, aliasing it onto this stale transaction
                    owner_obj = getattr(ctx, "_session", ctx)
                    self._open_txs[owner] = (
                        self.catalog.snapshot_versions(), set(), owner_obj,
                        self.catalog.snapshot_load_history())
                    import time as _time

                    self._tx_ids[owner] = str(int(_time.time() * 1000))
                    self._refresh_protected_locked()
            return Result.status("Statement executed successfully.")
        if up.startswith("COMMIT"):
            with self._tx_lock:
                self._open_txs.pop(owner, None)
                self._tx_ids.pop(owner, None)
                self._refresh_protected_locked()
            return Result.status("Statement executed successfully.")
        if up.startswith("ROLLBACK"):
            with self._tx_lock:
                self._tx_ids.pop(owner, None)
                tx = self._open_txs.pop(owner, None)
                if tx is not None:
                    snap, dirty, _ref, hist_snap = tx
                    # restore ONLY tables this transaction wrote
                    # (interleaved commits from other sessions survive)
                    # BEFORE unpinning: dropping protection first opened
                    # a window where a concurrent write's GC could
                    # delete the snapshot dir and the restore silently
                    # no-opped, leaving uncommitted writes visible
                    self.catalog.restore_versions(
                        {k: v for k, v in snap.items() if k in dirty})
                    # revert COPY load-history for the reverted tables:
                    # without this a rolled-back COPY would report
                    # LOAD_SKIPPED on retry and the data never loads
                    self.catalog.restore_load_history(hist_snap, dirty)
                self._refresh_protected_locked()
            return Result.status("Statement executed successfully.")
        tx = self._open_txs.get(owner)
        ctx._open_tx_id = self._tx_ids.get(owner)  # CURRENT_TRANSACTION()
        if tx is not None:
            self.catalog.begin_dirty_capture(tx[1])
            try:
                return self.executor.execute(s, ctx, bindings)
            finally:
                self.catalog.end_dirty_capture()
        return self.executor.execute(s, ctx, bindings)

    @staticmethod
    def _session_vars(ctx: SessionContext) -> dict:
        v = getattr(ctx, "variables", None)
        if v is None:
            v = {}
            ctx.variables = v
        return v

    @staticmethod
    def _session_params(ctx: SessionContext) -> dict:
        """Per-session parameter dict; HTTP sessions share theirs across
        requests (sessions.Session.context binds the same dict)."""
        params = getattr(ctx, "parameters", None)
        if params is None:
            params = {}
            ctx.parameters = params
        return params

    @staticmethod
    def _tx_owner(ctx: SessionContext) -> int:
        """Stable transaction-owner id: the HTTP layer rebuilds the
        SessionContext per request but threads the same Session object
        through ``ctx._session``; direct callers hold one ctx."""
        return id(getattr(ctx, "_session", ctx))

    def _refresh_protected_locked(self) -> None:
        """Recompute the union of snapshot-pinned versions (caller holds
        ``_tx_lock``)."""
        protected: dict[tuple, set[int]] = {}
        for snap, _dirty, _ref, _hist in self._open_txs.values():
            for key, v in snap.items():
                protected.setdefault(key, set()).add(v)
        self.catalog.set_protected_versions(protected)

    def cleanup_session(self, session) -> None:
        """End-of-session housekeeping: drop the session's TEMPORARY
        tables (Snowflake temp-table lifetime). Safe to call with None
        or an already-cleaned session."""
        if session is None:
            return
        self.catalog.drop_temp_tables(session)

    def sql(self, sql: str, ctx: SessionContext | None = None) -> DataFrame:
        """Query entry returning the lazy DataFrame (Snowflake SQL in)."""
        return self.executor.query_df(sql, ctx)

    def mount_fixtures(self, sf_dir: str, database: str | None = None,
                       schema: str | None = None) -> list[str]:
        """Register the driver's parquet fixture tables as read-only
        external catalog tables (FIXTURES.md §2: each fixture appears as
        ``TEST_DB.PUBLIC.<NAME>`` so inventory queries run through the
        full Snowflake SQL path)."""
        mounted = []
        for fname in sorted(os.listdir(sf_dir)):
            if not fname.endswith(".parquet"):
                continue
            name = fname[: -len(".parquet")]
            if name == "events":
                continue  # TIMESTAMP(NANOS): queried via inventory.load_views
            self.catalog.register_external_parquet(name, os.path.join(sf_dir, fname),
                                                   database, schema)
            mounted.append(name.upper())
        return mounted

    def close(self) -> None:
        pass  # shared SparkSession is owned by the caller

