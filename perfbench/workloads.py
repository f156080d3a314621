"""The benchmark's workloads: seeded op streams, expected outputs, and the
server-side data load each one needs.

Every workload is a closed loop: a client sends its next statement only
after the previous reply arrived. A client's op stream is a pure
function of (seed, client index) — the expected output of each op comes
from an in-memory model of the data that only this client writes.
"""

from __future__ import annotations

import copy
import datetime as dt
import os
import sys
import threading
from dataclasses import dataclass
from decimal import Decimal

import numpy as np

import datagen
from stats import median, per_second
from wire import GoSession, QueryError

DB, SCHEMA = "TEST_DB", "PUBLIC"
# Temporary tables live outside the sessions' current schema: dropping a
# table of the current schema races in Executor.sync_namespace_views
# when two sessions run it at once (see README).
TEMP_SCHEMA = "SCRATCH"


@dataclass
class Op:
    kind: str            # e.g. select_point, insert, copy
    cls: str             # read | write | ddl | session
    run: object          # () -> (rows, response bytes)
    check: object = None  # rows -> bool; None means checked after the run
    rows: object = None  # rows -> rows delivered or landed by this op
    text: str = ""       # the statement and its bindings, for tests and logs
    lock: object = None  # held around the op, outside its timed round trip
    batch: int = -1      # pipeline pass this op belongs to


def cell_eq(got, want) -> bool:
    if want is None:
        return got in (None, "")
    if isinstance(want, dt.date):
        return str(got)[:10] == want.isoformat()
    if isinstance(want, (int, Decimal)) and not isinstance(want, bool):
        try:
            return Decimal(str(got)) == Decimal(want)
        except Exception:
            return False
    if isinstance(want, float):
        try:
            g = float(got)
        except (TypeError, ValueError):
            return False
        return abs(g - want) <= 1e-6 + 1e-9 * abs(want)
    return str(got) == str(want)


def rows_eq(got, want) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(cell_eq(a, b) for a, b in zip(g, w))
        for g, w in zip(got, want))


def _fixed(v) -> dict:
    return {"type": "FIXED", "value": str(v)}


def _text(v) -> dict:
    return {"type": "TEXT", "value": str(v)}


def _real(v) -> dict:
    return {"type": "REAL", "value": str(v)}


def _binds(*vals) -> dict:
    return {str(i + 1): v for i, v in enumerate(vals)}


def _ok_count(n):
    return lambda rows: len(rows) == 1 and cell_eq(rows[0][0], n)


class Deck:
    """Deals op kinds in a fixed cycle, each client starting at its own
    offset. Every cycle has exactly the intended mix, and how far a run
    gets through its last cycle does not depend on the seed, so the mix
    of a short run is the same on every seed (only parameters differ)."""

    def __init__(self, items: list, client: int, clients: int):
        self.items = list(items)
        self.pos = client * len(self.items) // clients

    def draw(self):
        item = self.items[self.pos % len(self.items)]
        self.pos += 1
        return item


# ============================================================================
# oltp_mixed
# ============================================================================


class Oltp:
    name = "oltp_mixed"
    clients = 4
    accounts_n = 200_000
    session_len = 30      # statements between re-logins (about one in a 20 s run)
    zipf_a = 1.5
    # 70% SELECTs, 15% inserts, 10% updates, 5% SHOW/DESCRIBE, writes spread out
    mix = ["point", "range", "insert", "point", "events", "point", "update", "range", "point",
           "insert", "point", "meta", "range", "point", "events", "update", "point", "insert",
           "range", "point"]

    def __init__(self, seed: int, data_dir: str):
        self.seed, self.data_dir = seed, data_dir
        self._columns = None
        # The engine's UPDATE reads the table before taking the table's
        # write lock, so two concurrent UPDATEs of one table can lose one
        # of them (see README). Clients serialize their ACCOUNTS updates.
        self.update_lock = threading.Lock()

    # -- inputs / server side ------------------------------------------------

    def make_inputs(self) -> None:
        t = datagen.accounts(self.seed, self.accounts_n)
        datagen.write_parquet(t, os.path.join(self.data_dir, "oltp", "accounts_src.parquet"))
        self._columns = [t.column(n).to_pylist() for n in ("OWNER", "BALANCE", "OPENED", "STATUS")]

    def columns(self) -> list[list]:
        """OWNER, BALANCE, OPENED, STATUS of every account, by id."""
        if self._columns is None:
            self.make_inputs()
        return self._columns

    def server_setup(self, engine, port: int) -> None:
        engine.mount_fixtures(os.path.join(self.data_dir, "oltp"))
        s = GoSession("127.0.0.1", port)
        s.login()
        # CTAS would type BALANCE as NUMBER(38,0) and round it (see README)
        s.query("CREATE OR REPLACE TABLE ACCOUNTS (ID INT, OWNER VARCHAR, REGION VARCHAR, "
                "BALANCE NUMBER(12,2), OPENED DATE, STATUS VARCHAR)")
        s.query("INSERT INTO ACCOUNTS SELECT * FROM ACCOUNTS_SRC")
        s.query("CREATE OR REPLACE TABLE EVENTS_LOG (ID INT, CLIENT INT, ACCT INT, "
                "KIND VARCHAR, AMOUNT NUMBER(10,2))")
        s.query(f"CREATE SCHEMA IF NOT EXISTS {DB}.{TEMP_SCHEMA}")
        rows, _d, _n = s.query("SELECT COUNT(*) FROM ACCOUNTS")
        if int(rows[0][0]) != self.accounts_n:
            raise RuntimeError(f"ACCOUNTS holds {rows} rows after set-up")
        s.logout()
        s.close()

    def scale(self) -> dict:
        return {"accounts_rows": self.accounts_n, "clients": self.clients}

    @staticmethod
    def rows_rate(stmts, spans: dict[int, float]) -> tuple[str, float]:
        """Rows returned plus rows changed per second."""
        return "rows_s", per_second(stmts, spans, lambda s: s["rows"])

    @staticmethod
    def heavy_op_ms(samples) -> float:
        """Median round trip of a write (INSERT appends a file, UPDATE
        rewrites the table; both invalidate the result cache)."""
        return median([s["ms"] for s in samples if s["cls"] == "write"])

    def client(self, ci: int, host: str, port: int, control=None) -> "OltpClient":
        return OltpClient(self, ci, host, port)

    def final_check(self, clients, host, port) -> tuple[int, int]:
        """Balances of every account a client updated, read back once."""
        s = GoSession(host, port)
        s.login()
        bad = total = 0
        for c in clients:
            if not c.touched:
                continue
            ids = sorted(c.touched)
            for i in range(0, len(ids), 500):
                chunk = ids[i:i + 500]
                rows, _d, _n = s.query(
                    "SELECT ID, BALANCE FROM ACCOUNTS WHERE ID IN (" + ",".join(map(str, chunk))
                    + ") ORDER BY ID")
                total += 1
                if not rows_eq(rows, [[k, c.model[k][1]] for k in chunk]):
                    bad += 1
        s.logout()
        s.close()
        return total, bad


class OltpClient:
    def __init__(self, wl: Oltp, ci: int, host: str, port: int):
        self.wl, self.ci = wl, ci
        self.rng = datagen.rng_for(wl.seed, "oltp", ci)
        self.sess = GoSession(host, port)
        self.own = np.arange(ci, wl.accounts_n, wl.clients)
        # model of this client's key partition: id -> [owner, balance, opened, status]
        cols = wl.columns()
        self.model = {int(k): [cols[0][k], cols[1][k], cols[2][k], cols[3][k]] for k in self.own}
        self.touched: set[int] = set()
        self.events_n, self.events_sum, self.event_seq = 0, Decimal("0.00"), 0
        self.stmts_in_session = None  # None: not logged in yet
        self.pending: list[Op] = []
        self.deck = Deck(wl.mix, ci, wl.clients)

    def _stmt(self, kind, cls, sql, binds=None, check=None, rows=len) -> Op:
        def run():
            return self.sess.query(sql, binds)[::2]
        return Op(kind, cls, run, check, rows, text=sql + (" " + repr(binds) if binds else ""))

    def _key(self) -> int:
        while True:
            j = int(self.rng.zipf(self.wl.zipf_a)) - 1
            if j < len(self.own):
                return int(self.own[j])

    def next_op(self) -> Op:
        if self.pending:
            return self.pending.pop(0)
        if self.stmts_in_session is None or self.stmts_in_session >= self.wl.session_len:
            self._relogin_ops()
            return self.pending.pop(0)
        self.stmts_in_session += 1
        kind = self.deck.draw()
        if kind == "meta":
            return self._show() if self.rng.random() < 0.5 else self._describe()
        return {"point": self._select_point, "range": self._select_range,
                "events": self._select_events, "insert": self._insert_event,
                "update": self._update_balance}[kind]()

    # -- session cycle -------------------------------------------------------

    def _relogin_ops(self) -> None:
        tmp = f"{DB}.{TEMP_SCHEMA}.TMP_{self.ci}"
        ops = []
        if self.stmts_in_session is not None:
            ops.append(self._stmt("drop_temp", "ddl", f"DROP TABLE {tmp}",
                                  check=lambda rows: "dropped" in str(rows), rows=None))
            ops.append(Op("logout", "session", lambda: (self.sess.logout(), 0)))
        ops.append(Op("login", "session", lambda: (self.sess.login(), 0)))
        ops.append(self._stmt("create_temp", "ddl", f"CREATE TEMPORARY TABLE {tmp} (K INT, V VARCHAR)",
                              check=lambda rows: "created" in str(rows), rows=None))
        self.pending.extend(ops)
        self.stmts_in_session = 0

    # -- reads ---------------------------------------------------------------

    def _select_point(self) -> Op:
        k = self._key()
        owner, bal, opened, status = self.model[k]
        want = [[k, owner, "gold" if bal >= 5000 else "std", status or "none",
                 opened + dt.timedelta(days=30), bal]]
        sql = ("SELECT ID, OWNER, IFF(BALANCE >= 5000, 'gold', 'std') AS TIER, "
               "NVL(STATUS, 'none') AS ST, DATEADD(day, 30, OPENED) AS RENEW_ON, BALANCE "
               "FROM ACCOUNTS WHERE ID = ?")
        b = _binds(_fixed(k))
        return self._stmt("select_point", "read", sql, b, lambda rows: rows_eq(rows, want))

    def _select_range(self) -> Op:
        lo = self._key()
        hi = lo + 40
        want = [[k, self.model[k][1]] for k in range(lo, hi + 1) if k % self.wl.clients == self.ci
                and k in self.model]
        sql = "SELECT ID, BALANCE FROM ACCOUNTS WHERE ID BETWEEN ? AND ? AND MOD(ID, 4) = ? ORDER BY ID"
        b = _binds(_fixed(lo), _fixed(hi), _fixed(self.ci))
        return self._stmt("select_range", "read", sql, b, lambda rows: rows_eq(rows, want))

    def _select_events(self) -> Op:
        want = [[self.events_n, self.events_sum]]
        sql = ("SELECT COUNT(*) AS N, NVL(SUM(AMOUNT), 0) AS TOTAL FROM EVENTS_LOG "
               "WHERE CLIENT = ?")
        b = _binds(_fixed(self.ci))
        return self._stmt("select_events", "read", sql, b, lambda rows: rows_eq(rows, want))

    def _show(self) -> Op:
        return self._stmt("show", "read", "SHOW TABLES LIKE 'ACCOUNTS'",
                          check=lambda rows: len(rows) == 1 and rows[0][0] == "ACCOUNTS")

    def _describe(self) -> Op:
        cols = ["ID", "OWNER", "REGION", "BALANCE", "OPENED", "STATUS"]
        return self._stmt("describe", "read", "DESCRIBE TABLE ACCOUNTS",
                          check=lambda rows: [r[0] for r in rows] == cols)

    # -- writes --------------------------------------------------------------

    def _insert_event(self) -> Op:
        self.event_seq += 1
        eid = self.event_seq * self.wl.clients + self.ci
        amount = Decimal(int(self.rng.integers(1, 100_000))).scaleb(-2)
        acct = self._key()
        self.events_n += 1
        self.events_sum += amount
        sql = "INSERT INTO EVENTS_LOG (ID, CLIENT, ACCT, KIND, AMOUNT) VALUES (?, ?, ?, ?, ?)"
        b = _binds(_fixed(eid), _fixed(self.ci), _fixed(acct), _text("deposit"), _real(amount))
        return self._stmt("insert", "write", sql, b, _ok_count(1), lambda rows: 1)

    def _update_balance(self) -> Op:
        k = self._key()
        delta = Decimal(int(self.rng.integers(-5_000, 5_000))).scaleb(-2)
        self.model[k][1] += delta
        self.touched.add(k)
        sql = "UPDATE ACCOUNTS SET BALANCE = BALANCE + ? WHERE ID = ?"
        b = _binds(_real(delta), _fixed(k))

        op = self._stmt("update", "write", sql, b, _ok_count(1), lambda rows: 1)
        op.lock = self.wl.update_lock
        return op

    def close(self) -> None:
        try:
            if self.sess.token:
                self.sess.query(f"DROP TABLE IF EXISTS {DB}.{TEMP_SCHEMA}.TMP_{self.ci}")
                self.sess.logout()
        except (QueryError, OSError):
            pass
        self.sess.close()


# ============================================================================
# ingest_merge
# ============================================================================

FORMATS = [("csv", "FF_CSV", "TYPE = CSV SKIP_HEADER = 1"),
           ("json", "FF_JSON", "TYPE = JSON STRIP_OUTER_ARRAY = TRUE"),
           ("parquet", "FF_PQ", "TYPE = PARQUET")]
TARGET_COLS = "ID INT, NAME VARCHAR, QTY INT, PRICE NUMBER(10,2), UPDATED DATE"
# one pipeline pass, in order (``pipeline.outputs`` builds each stage);
# each stage reports the per-layer metric ``<stage>_s``
PIPELINE_STAGES = ["dedup.exact", "dedup.minhash_lsh", "textstats.quality"]


class Ingest:
    """Two ETL sessions (PUT, COPY, MERGE, bulk binds, DELETE) and one
    pipeline author who runs the ``operators`` stages in the server."""
    name = "ingest_merge"
    etl_clients = 2
    clients = 3           # the last one is the pipeline author
    initial_rows = 4_000
    rows_per_file = 300
    bind_rows = 2_000
    docs_n = 150

    def __init__(self, seed: int, data_dir: str):
        self.seed, self.data_dir = seed, data_dir
        self.pipeline_dir = os.path.join(data_dir, "pipeline")

    def _initial(self, ci: int) -> list[tuple]:
        r = datagen.rng_for(self.seed, "ingest-initial", ci)
        return datagen.ingest_rows(r, [ci * 10_000_000 + i for i in range(self.initial_rows)], 0)

    def make_inputs(self) -> None:
        datagen.write_parquet(datagen.documents(self.seed, self.docs_n),
                              os.path.join(self.pipeline_dir, "documents.parquet"))
        for ci in range(self.etl_clients + 1):
            datagen.write_ingest_file(self._initial(ci),
                                      os.path.join(self.data_dir, "ingest", f"init_{ci}.parquet"),
                                      "parquet")

    def server_setup(self, engine, port: int) -> None:
        s = GoSession("127.0.0.1", port)
        s.login()
        for _ext, ff, opts in FORMATS:
            s.query(f"CREATE OR REPLACE FILE FORMAT {ff} {opts}")
        for ci in range(self.etl_clients + 1):
            s.query(f"CREATE OR REPLACE STAGE ING_{ci}")
            s.query(f"CREATE OR REPLACE TABLE STG_{ci} ({TARGET_COLS}, BATCH INT)")
            s.query(f"CREATE OR REPLACE TABLE TGT_{ci} ({TARGET_COLS}, BATCH INT)")
            path = os.path.join(self.data_dir, "ingest", f"init_{ci}.parquet")
            s.query(f"PUT file://{path} @ING_{ci}/init")
            s.query(f"COPY INTO TGT_{ci} FROM @ING_{ci}/init FILE_FORMAT = (FORMAT_NAME = 'FF_PQ')")
        rows, _d, _n = s.query("SELECT COUNT(*) FROM TGT_0")
        if int(rows[0][0]) != self.initial_rows:
            raise RuntimeError(f"TGT_0 holds {rows} rows after set-up")
        s.logout()
        s.close()
        # one more session runs a whole, smaller loop on its own tables, so
        # that the measured loops do not pay the statements' first, cold runs
        small = copy.copy(self)
        small.rows_per_file, small.bind_rows = 50, 1_000
        warm = IngestClient(small, self.etl_clients, "127.0.0.1", port)
        warm.next_op().run()  # login
        while True:
            op = warm.next_op()
            rows, _n = op.run()
            if not op.check(rows):
                raise RuntimeError(f"warm-up {op.kind} answered {rows}")
            if not warm.mid_cycle():
                break
        warm.close()

    def scale(self) -> dict:
        return {"initial_rows": self.initial_rows, "rows_per_file": self.rows_per_file,
                "bind_rows": self.bind_rows, "etl_clients": self.etl_clients,
                "documents": self.docs_n}

    @staticmethod
    def rows_rate(stmts, _spans: dict[int, float]) -> tuple[str, float]:
        """Rows landed by COPY, MERGE and bulk binds per second of their
        latency (every loop has the same statements, so this does not
        depend on where the window cuts the last loop)."""
        load = [s for s in stmts if s["rows"]]
        secs = sum(s["ms"] for s in load) / 1000.0
        return "load_rows_s", sum(s["rows"] for s in load) / secs if secs else 0.0

    @staticmethod
    def heavy_op_ms(samples) -> float:
        """Median round trip of the bulk bind, the loop's heaviest
        statement. (The pipeline pass, ``pass_ms``, spread too much
        between runs on a shared host to carry a bound; see README.)"""
        return median([s["ms"] for s in samples if s["kind"] == "bulk_bind"])

    @staticmethod
    def pass_ms(samples) -> float:
        """Mean time of a complete pipeline pass (its stages' round trips
        summed)."""
        passes: dict[int, list[float]] = {}
        for s in samples:
            if s["cls"] == "batch":
                passes.setdefault(s["batch"], []).append(s["ms"])
        done = [sum(v) for v in passes.values() if len(v) == len(PIPELINE_STAGES)]
        return sum(done) / len(done)

    def client(self, ci: int, host: str, port: int, control=None):
        if ci >= self.etl_clients:
            return PipelineClient(ci, control)
        return IngestClient(self, ci, host, port)

    def final_check(self, clients, host, port) -> tuple[int, int]:
        """Each target's row count and column sums against the client's
        model; every collected pipeline output against its oracle."""
        s = GoSession(host, port)
        s.login()
        total = bad = 0
        for c in clients:
            if isinstance(c, PipelineClient):
                out = c.control.ask("pipeline_check", timeout=170)
                total += out["checks"]
                bad += len(out["bad"])
                for name in out["bad"]:
                    print(f"pipeline output {name} differs from its oracle", file=sys.stderr)
                continue
            rows, _d, _n = s.query(
                f"SELECT COUNT(*), SUM(ID), SUM(QTY), SUM(PRICE), SUM(LENGTH(NAME)) FROM TGT_{c.ci}")
            total += 1
            if not rows_eq(rows, [c.target_digest()]):
                bad += 1
        s.logout()
        s.close()
        return total, bad


class IngestClient:
    """An ETL session. Every loop is the same eleven statements: PUT and
    COPY a CSV, a JSON and a parquet file, MERGE them into the target,
    PUT and bulk-insert a bind file, re-issue a COPY that load history
    skips, DELETE the staged rows. Odd sessions do the bind file first.
    A run stops only between loops."""
    cycles = True

    def __init__(self, wl: Ingest, ci: int, host: str, port: int):
        self.wl, self.ci = wl, ci
        self.rng = datagen.rng_for(wl.seed, "ingest", ci)
        self.sess = GoSession(host, port)
        self.dir = os.path.join(wl.data_dir, "ingest", f"c{ci}")
        self.target = {r[0]: r for r in wl._initial(ci)}
        self.next_id = ci * 10_000_000 + wl.initial_rows
        self.loop = 0
        self.pending: list[Op] = [Op("login", "session", lambda: (self.sess.login(), 0))]

    def target_digest(self) -> list:
        rows = self.target.values()
        return [len(self.target), sum(r[0] for r in rows), sum(r[2] for r in rows),
                sum((r[3] for r in rows), Decimal("0.00")), sum(len(r[1]) for r in rows)]

    def _new_ids(self, n: int) -> list[int]:
        ids = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        return ids

    def loop_files(self, loop: int) -> list[tuple[str, str, list[tuple]]]:
        """This loop's staged files: half updates of target rows, half new."""
        n = self.wl.rows_per_file * len(FORMATS)
        keys = sorted(self.target)
        upd = [keys[int(i)] for i in self.rng.choice(len(keys), n // 2, replace=False)]
        ids = upd + self._new_ids(n - len(upd))
        self.rng.shuffle(ids)
        out = []
        for fi, (ext, ff, _opts) in enumerate(FORMATS):
            chunk = ids[fi * self.wl.rows_per_file:(fi + 1) * self.wl.rows_per_file]
            rows = datagen.ingest_rows(self.rng, chunk, loop + 1)
            path = os.path.join(self.dir, f"b{loop}", f"part.{ext}")
            datagen.write_ingest_file(rows, path, ext)
            out.append((ext, ff, rows))
        return out

    def mid_cycle(self) -> bool:
        return bool(self.pending)

    def next_op(self) -> Op:
        if not self.pending:
            self._plan_loop()
        return self.pending.pop(0)

    def _stmt(self, kind, sql, check, rows=None, bind_stage=None, lands=()) -> Op:
        """``lands``: the rows the statement writes to the target; the
        model takes them once it has run (a run can stop mid-loop)."""
        def run():
            out = self.sess.query(sql, bind_stage=bind_stage)[::2]
            for r in lands:
                self.target[r[0]] = r
            return out
        return Op(kind, "write", run, check, rows,
                  text=sql + (f" bindStage={bind_stage}" if bind_stage else ""))

    def _plan_loop(self) -> None:
        ci, loop, ops = self.ci, self.loop, []
        self.loop += 1
        batch = loop + 1
        uploaded = lambda r: len(r) == 1 and r[0][6] == "UPLOADED"  # noqa: E731
        files = self.loop_files(loop)
        for ext, _ff, _rows in files:
            path = os.path.join(self.dir, f"b{loop}", f"part.{ext}")
            ops.append(self._stmt("put", f"PUT file://{path} @ING_{ci}/b{loop}", uploaded))
        for ext, ff, rows in files:
            ops.append(self._stmt(
                "copy", f"COPY INTO STG_{ci} FROM @ING_{ci}/b{loop}/ "
                f"FILE_FORMAT = (FORMAT_NAME = '{ff}') PATTERN = '.*[.]{ext}'",
                lambda r: len(r) == 1 and r[0][1] == "LOADED", lambda r, n=len(rows): n))
        merged = [r for _e, _f, rows in files for r in rows]
        n_upd = sum(1 for r in merged if r[0] in self.target)
        n_ins = len(merged) - n_upd
        ops.append(self._stmt(
            "merge", f"MERGE INTO TGT_{ci} t USING (SELECT * FROM STG_{ci} WHERE BATCH = {batch}) s "
            "ON t.ID = s.ID WHEN MATCHED THEN UPDATE SET NAME = s.NAME, QTY = s.QTY, "
            "PRICE = s.PRICE, UPDATED = s.UPDATED, BATCH = s.BATCH WHEN NOT MATCHED THEN INSERT "
            "(ID, NAME, QTY, PRICE, UPDATED, BATCH) VALUES (s.ID, s.NAME, s.QTY, s.PRICE, "
            "s.UPDATED, s.BATCH)",
            lambda r: len(r) == 1 and cell_eq(r[0][0], n_ins) and cell_eq(r[0][1], n_upd),
            lambda r, n=len(merged): n, lands=merged))
        rows = datagen.ingest_rows(self.rng, self._new_ids(self.wl.bind_rows), batch)
        path = os.path.join(self.dir, f"binds{loop}", "binds.csv")
        datagen.write_bind_csv(rows, path)
        binds = [self._stmt("put", f"PUT file://{path} @ING_{ci}/binds{loop}", uploaded)]
        # the reply counts only the last 1000-row VALUES batch (see
        # README); the final target digest checks that all rows landed
        binds.append(self._stmt(
            "bulk_bind", f"INSERT INTO TGT_{ci} (ID, NAME, QTY, PRICE, UPDATED, BATCH) "
            "VALUES (?, ?, ?, ?, ?, ?)", _ok_count((len(rows) - 1) % 1000 + 1),
            lambda r, n=len(rows): n, bind_stage=f"ING_{ci}/binds{loop}", lands=rows))
        # odd sessions bulk-insert first, so that the two sessions' bulk
        # binds, the heaviest statements, do not run at the same time
        ops = binds + ops if ci % 2 else ops + binds
        # re-issued COPY of a file already loaded: load history skips it
        ops.append(self._stmt(
            "copy_reissue", f"COPY INTO STG_{ci} FROM @ING_{ci}/b{loop}/ "
            "FILE_FORMAT = (FORMAT_NAME = 'FF_CSV') PATTERN = '.*[.]csv'",
            lambda r: len(r) == 1 and r[0][1] == "LOAD_SKIPPED"))
        ops.append(self._stmt("delete", f"DELETE FROM STG_{ci} WHERE BATCH <= {batch}",
                              _ok_count(len(merged))))
        self.pending.extend(ops)

    def close(self) -> None:
        try:
            if self.sess.token:
                self.sess.logout()
        except (QueryError, OSError):
            pass
        self.sess.close()


class _NoSession:
    trace = None

    def close(self) -> None:
        pass


class PipelineClient:
    """The pipeline author: asks the server, over its control channel,
    to run one operator stage at a time, in pass order. A run stops
    only between passes (the server ran a first, cold pass at set-up)."""
    cycles = True

    def __init__(self, ci: int, control):
        self.ci, self.control = ci, control
        self.sess = _NoSession()
        self.pos = 0

    def mid_cycle(self) -> bool:
        return self.pos % len(PIPELINE_STAGES) != 0

    def next_op(self) -> Op:
        stage = PIPELINE_STAGES[self.pos % len(PIPELINE_STAGES)]
        n = self.pos // len(PIPELINE_STAGES)
        self.pos += 1

        def run():
            out = self.control.ask("stage " + stage, timeout=170)
            if "error" in out:
                raise RuntimeError(out["error"])
            return [out], 0
        return Op(stage, "batch", run, lambda r: r[0]["stage"] == stage, lambda r: r[0]["rows"],
                  text=stage, batch=n)

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (Oltp, Ingest)}
