"""The one DML compiler: UPDATE, DELETE and MERGE as one SQL SELECT.

Reference: `/root/reference/pkg/query/merge_processor.go` (parser
24-272, execution 348-367). The reference first tries the engine's
native MERGE and otherwise *decomposes* it into sequential UPDATE /
DELETE / INSERT statements (493-631) — non-atomic, phase-ordered.

Here it goes the other way: every statement that changes rows in place
is parsed into a ``MergeStatement`` and compiled by ``compile_dml`` into
ONE Spark SQL ``SELECT`` over the live version — a CASE expression per
column implementing WHEN-clause first-match semantics, plus an
``__action`` per output row — which ``run_dml`` writes as the next
table version in one job:

* ``UPDATE t [AS a] SET … [FROM src [AS s]] [WHERE c]`` is one
  ``WHEN MATCHED THEN UPDATE``; ``DELETE FROM t [AS a] [USING src [AS
  s]] [WHERE c]`` is one ``WHEN MATCHED THEN DELETE``.
* Without a source, "matched" is ``COALESCE(c, FALSE)``: no join and no
  window, and ``c`` may hold IN / EXISTS subqueries.
* With a source, the target joins it (LEFT, or FULL OUTER when a NOT
  MATCHED clause can insert). A target row matched by N source rows
  contributes exactly ONE output row: the first match by a
  deterministic window order, actionable matches first. The dedup
  window partitions matched rows by a per-target-row id and unmatched
  source rows by a per-source-row id, so no single window partition can
  absorb all inserts (skew-safe at scale).

Counts (RowsInserted/Updated/Deleted, result.go:43-47) are collected
via ``DataFrame.observe`` during the single write pass.
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import errors
from ..plans.translator import Translator
from ..result import Result

_WHEN_SPLIT_RE = re.compile(r"\bWHEN\s+(NOT\s+)?MATCHED\b", re.I)
# a relation of a DML: a name or a (subquery), with an optional alias
_RELATION_RE = re.compile(r"\s*(\(.*\)|[\w.\"$]+)(?:\s+(?:AS\s+)?(\w+))?\s*", re.I | re.S)

_COUNT_COLUMNS = {"INSERT": "number of rows inserted",
                  "UPDATE": "number of rows updated",
                  "DELETE": "number of rows deleted"}


@dataclass
class WhenClause:
    is_matched: bool
    condition: str | None  # extra AND condition
    action: str  # UPDATE | DELETE | INSERT
    set_clauses: dict[str, str] = field(default_factory=dict)
    insert_cols: list[str] = field(default_factory=list)
    insert_vals: list[str] = field(default_factory=list)


@dataclass
class MergeStatement:
    target: str
    target_alias: str
    source: str | None  # table name or (subquery); None: the target alone
    source_alias: str | None
    on_condition: str | None  # None: every row matches
    when_clauses: list[WhenClause] = field(default_factory=list)


def _keyword(text: str, kw: str) -> int | None:
    """Index of the first top-level (outside strings and parens)
    occurrence of keyword ``kw`` in ``text``; the FROM of ``IS [NOT]
    DISTINCT FROM`` is not one."""
    pos = 0
    while (at := Translator()._find_top_level_keyword(text[pos:], kw)) is not None:
        at += pos
        if not re.search(r"\bDISTINCT\s*$", text[:at], re.I):
            return at
        pos = at + len(kw)
    return None


def _relation(text: str, default_alias: str | None = None) -> tuple[str, str]:
    """(name or (subquery), alias) of ``text``; the alias defaults to
    the name's last part, or ``default_alias`` for a subquery."""
    m = _RELATION_RE.fullmatch(text)
    if not m:
        raise errors.syntax_error(f"cannot parse relation: {text.strip()[:80]}")
    name = m.group(1)
    return name, m.group(2) or (default_alias if name.startswith("(") else name.split(".")[-1])


def _set_clauses(text: str) -> dict[str, str]:
    """``col = expr, …`` by upper-cased column name (alias qualifiers
    dropped)."""
    sets: dict[str, str] = {}
    for part in Translator()._split_args(text):
        if "=" not in part:
            raise errors.syntax_error(f"cannot parse SET clause: {part.strip()[:60]}")
        col, expr = part.split("=", 1)
        sets[col.strip().split(".")[-1].strip('"').upper()] = expr.strip()
    return sets


def parse_merge(sql: str) -> MergeStatement:
    """Scanner parser mirroring the reference's state machine
    (merge_processor.go:110-272), tolerant of subquery sources."""
    s = sql.strip().rstrip(";")
    m = re.match(r"MERGE\s+INTO\s+", s, re.I)
    using = _keyword(s, "USING") if m else None
    if using is None:
        raise errors.syntax_error(f"cannot parse MERGE INTO: {s[:80]}")
    target, target_alias = _relation(s[m.end():using])
    rest = s[using + len("USING"):]
    on = _keyword(rest, "ON")
    if on is None:
        raise errors.syntax_error("MERGE missing ON condition")
    source, source_alias = _relation(rest[:on], "SRC")
    rest = rest[on + len("ON"):]

    # ON condition runs until the first WHEN [NOT] MATCHED
    wm = _WHEN_SPLIT_RE.search(rest)
    if not wm:
        raise errors.syntax_error("MERGE missing WHEN clauses")
    on_condition = rest[: wm.start()].strip()
    when_text = rest[wm.start():]

    clauses: list[WhenClause] = []
    positions = [mm for mm in _WHEN_SPLIT_RE.finditer(when_text)]
    for idx, mm in enumerate(positions):
        end = positions[idx + 1].start() if idx + 1 < len(positions) else len(when_text)
        body = when_text[mm.end(): end].strip()
        is_matched = mm.group(1) is None
        cond = None
        am2 = re.match(r"AND\s+(.*?)\s+THEN\s+", body, re.I | re.S)
        if am2:
            cond = am2.group(1).strip()
            body = body[am2.end():].strip()
        else:
            tm2 = re.match(r"THEN\s+", body, re.I)
            if not tm2:
                raise errors.syntax_error("MERGE WHEN clause missing THEN")
            body = body[tm2.end():].strip()
        up = body.upper()
        if up.startswith("UPDATE"):
            setm = re.match(r"UPDATE\s+SET\s+(.*)$", body, re.I | re.S)
            if not setm:
                raise errors.syntax_error(f"cannot parse MERGE UPDATE: {body[:60]}")
            clauses.append(WhenClause(is_matched, cond, "UPDATE",
                                      set_clauses=_set_clauses(setm.group(1))))
        elif up.startswith("DELETE"):
            clauses.append(WhenClause(is_matched, cond, "DELETE"))
        elif up.startswith("INSERT"):
            im = re.match(r"INSERT\s*(?:\(([^)]*)\))?\s*VALUES\s*\((.*)\)\s*$", body, re.I | re.S)
            if not im:
                raise errors.syntax_error(f"cannot parse MERGE INSERT: {body[:60]}")
            cols = [c.strip().strip('"').upper() for c in im.group(1).split(",")] if im.group(1) else []
            vals = [v.strip() for v in Translator()._split_args(im.group(2))]
            clauses.append(WhenClause(is_matched, cond, "INSERT", insert_cols=cols, insert_vals=vals))
        else:
            raise errors.syntax_error(f"unknown MERGE action: {body[:40]}")
    return MergeStatement(target, target_alias, source, source_alias, on_condition, clauses)


def parse_update(sql: str) -> MergeStatement:
    """``UPDATE t [AS a] SET … [FROM src [AS s]] [WHERE c]`` as one
    ``WHEN MATCHED THEN UPDATE``."""
    s = sql.strip().rstrip(";")
    m = re.match(r"UPDATE\s+", s, re.I)
    set_at = _keyword(s, "SET") if m else None
    if set_at is None:
        raise errors.syntax_error(f"cannot parse UPDATE: {s[:80]}")
    target, target_alias = _relation(s[m.end():set_at])
    sets, source, cond = _split_tail(s[set_at + len("SET"):], "FROM")
    return _matched_statement(target, target_alias, source, cond,
                              WhenClause(True, None, "UPDATE", set_clauses=_set_clauses(sets)))


def parse_delete(sql: str) -> MergeStatement:
    """``DELETE FROM t [AS a] [USING src [AS s]] [WHERE c]`` as one
    ``WHEN MATCHED THEN DELETE``."""
    s = sql.strip().rstrip(";")
    m = re.match(r"DELETE\s+FROM\s+", s, re.I)
    if not m:
        raise errors.syntax_error(f"cannot parse DELETE: {s[:80]}")
    target, source, cond = _split_tail(s[m.end():], "USING")
    return _matched_statement(*_relation(target), source, cond,
                              WhenClause(True, None, "DELETE"))


def _split_tail(text: str, source_kw: str) -> tuple[str, str | None, str | None]:
    """``head [<source_kw> source] [WHERE cond]`` as (head, source,
    cond)."""
    where = _keyword(text, "WHERE")
    cond = text[where + len("WHERE"):].strip() if where is not None else None
    text = text[:where] if where is not None else text
    at = _keyword(text, source_kw)
    if at is None:
        return text, None, cond
    return text[:at], text[at + len(source_kw):], cond


def _matched_statement(target: str, target_alias: str, source: str | None,
                       cond: str | None, clause: WhenClause) -> MergeStatement:
    source_alias = None
    if source is not None:
        source, source_alias = _relation(source, "SRC")
    return MergeStatement(target, target_alias, source, source_alias, cond, [clause])


def compile_dml(stmt: MergeStatement, columns: list[str], target_view: str,
                source_view: str | None, expr) -> str:
    """The Spark SQL SELECT of ``stmt``'s new table contents over
    ``target_view`` (the live version, with a ``__tid`` row id when
    there is a source) and ``source_view`` (with a ``__sid`` row id):
    one column per name of ``columns``, then ``__action`` (UPDATE,
    DELETE, INSERT, NONE for a match no clause takes, KEEP for an
    unmatched target row, SKIP for an unmatched source row no clause
    inserts) and ``__rn`` (1 for the row to write). ``expr`` translates
    a Snowflake expression into Spark SQL."""
    t, s = stmt.target_alias, stmt.source_alias
    matched = [c for c in stmt.when_clauses if c.is_matched]
    inserts = [c for c in stmt.when_clauses if not c.is_matched]

    def first(clauses: list[WhenClause], value, otherwise: str) -> str:
        """The value of the first clause whose condition holds."""
        if not clauses:
            return otherwise
        return "CASE " + " ".join(
            f"WHEN ({expr(c.condition) if c.condition else 'TRUE'}) THEN ({value(c)})"
            for c in clauses) + f" ELSE {otherwise} END"

    if source_view is None:
        is_match = f"coalesce(({expr(stmt.on_condition)}), FALSE)" if stmt.on_condition else "TRUE"
        relation = f"{target_view} AS {t}"
    else:
        is_match = f"{s}.__sid IS NOT NULL" + (f" AND {t}.__tid IS NOT NULL" if inserts else "")
        join = "FULL OUTER" if inserts else "LEFT"
        relation = (f"{target_view} AS {t} {join} JOIN {source_view} AS {s} "
                    f"ON ({expr(stmt.on_condition) if stmt.on_condition else 'TRUE'})")

    def per_row(on_match: str, on_target: str, on_source: str) -> str:
        if not inserts:
            return f"CASE WHEN {is_match} THEN {on_match} ELSE {on_target} END"
        return (f"CASE WHEN {is_match} THEN {on_match} "
                f"WHEN {t}.__tid IS NOT NULL THEN {on_target} ELSE {on_source} END")

    keys = [n.upper() for n in columns]

    def set_value(c: WhenClause, key: str, col: str) -> str:
        return expr(c.set_clauses[key]) if key in c.set_clauses else col

    def insert_value(c: WhenClause, key: str) -> str:
        names = c.insert_cols or keys
        return expr(c.insert_vals[names.index(key)]) if key in names else "NULL"

    items = []
    for name, key in zip(columns, keys):
        quoted = "`" + name.replace("`", "``") + "`"
        col = f"{t}.{quoted}"
        updated = (first(matched, lambda c: set_value(c, key, col), col)
                   if any(key in c.set_clauses for c in matched) else col)
        inserted = first(inserts, lambda c: insert_value(c, key), "NULL")
        items.append(f"{per_row(updated, col, inserted)} AS {quoted}")
    match_action = first(matched, lambda c: f"'{c.action}'", "'NONE'")
    items.append(per_row(match_action, "'KEEP'", first(inserts, lambda c: "'INSERT'", "'SKIP'"))
                 + " AS __action")
    rn = "1"
    if source_view is not None:
        # one row per target row (unmatched source rows: one each),
        # the first actionable match first
        rn = (f"ROW_NUMBER() OVER (PARTITION BY coalesce({t}.__tid, -1 - {s}.__sid) "
              f"ORDER BY CASE WHEN {match_action} = 'NONE' THEN 1 ELSE 0 END, {s}.__sid)")
    items.append(f"{rn} AS __rn")
    return f"SELECT {', '.join(items)} FROM {relation}"


def run_dml(executor, stmt: MergeStatement, ctx, actions: tuple[str, ...],
            strict: bool = False) -> Result:
    """Run ``stmt`` as one write job of the next version of its target
    and return the counts of ``actions``. The source (a name or a
    subquery) is read through ``query_df``, so it honors masking and row
    access policies, and the streams the statement reads are consumed
    once it commits. ``strict`` (ERROR_ON_NONDETERMINISTIC_MERGE) rejects
    a target row matched by several actionable source rows; otherwise
    the first match is applied once."""
    catalog = executor.catalog
    tm = catalog.get_table(stmt.target, ctx.database, ctx.schema)
    views = executor._statement_views()
    # per-statement view names: concurrent DML on other tables (per-
    # table write locks allow it) must never replace them
    suffix = uuid.uuid4().hex[:12]
    target_view, source_view = f"__dml_target_{suffix}", None
    with executor.reading_streams() as streams:
        if stmt.source is not None:
            source_view = f"__dml_source_{suffix}"
            src = stmt.source[1:-1] if stmt.source.startswith("(") else f"SELECT * FROM {stmt.source}"
            executor.query_df(src, ctx).withColumn(
                "__sid", F.monotonically_increasing_id()).createOrReplaceTempView(source_view)
            views.append((None, None, source_view))
        sql = executor._resolve_subqueries(compile_dml(
            stmt, [c.name for c in tm.columns], target_view, source_view,
            executor.translator.translate_expr), ctx)

    obs = Observation()
    rn1 = F.col("__rn") == 1

    def count(action: str, name: str):
        return F.sum(F.when(rn1 & (F.col("__action") == action), 1).otherwise(0)).alias(name)

    def changed(live: DataFrame) -> DataFrame:
        # registered inside the table lock: the live version the
        # statement rewrites is the one no concurrent write can replace
        if source_view is not None:
            live = live.withColumn("__tid", F.monotonically_increasing_id())
        live.createOrReplaceTempView(target_view)
        views.append((None, None, target_view))
        # the duplicate-match probe rides the same Observation: __rn = 2
        # with an actionable action means at least two UPDATE/DELETE
        # matches landed on one target row (actionable matches sort
        # first), so strict mode costs no extra job
        return (executor.spark.sql(sql).observe(
            obs, count("UPDATE", "upd"), count("DELETE", "del"), count("INSERT", "ins"),
            F.sum(F.when((F.col("__rn") == 2) & F.col("__action").isin("UPDATE", "DELETE"), 1)
                  .otherwise(0)).alias("dups"))
            .filter("__rn = 1 AND __action NOT IN ('DELETE', 'SKIP')")
            .drop("__action", "__rn"))

    def deterministic() -> None:
        # after the write job, still inside the lock: raising discards
        # the new version unpublished
        if int(obs.get["dups"] or 0):
            raise errors.execution_error(
                "Duplicate row detected during DML action: a target row "
                "was matched by multiple source rows "
                "(ERROR_ON_NONDETERMINISTIC_MERGE=TRUE)")

    catalog.write_table(tm, changed, check=deterministic if strict else None)
    for sm in streams:
        catalog.advance_stream(sm)
    stats = obs.get
    counts = {"INSERT": int(stats["ins"] or 0), "UPDATE": int(stats["upd"] or 0),
              "DELETE": int(stats["del"] or 0)}
    r = Result(columns=[_COUNT_COLUMNS[a] for a in actions], rows=[[counts[a] for a in actions]])
    r.rows_inserted, r.rows_updated, r.rows_deleted = (
        counts["INSERT"], counts["UPDATE"], counts["DELETE"])
    return r


class MergeProcessor:
    """MERGE INTO: the entry point of MERGE statements only (UPDATE and
    DELETE call ``run_dml`` directly)."""

    def __init__(self, executor):
        self.executor = executor

    def execute(self, sql: str, ctx) -> Result:
        # ERROR_ON_NONDETERMINISTIC_MERGE: Snowflake defaults to the
        # strict mode, and so does config.DEFAULT_SESSION_PARAMETERS
        strict = str(getattr(ctx, "parameters", {}).get(
            "ERROR_ON_NONDETERMINISTIC_MERGE", "TRUE")).upper() == "TRUE"
        return run_dml(self.executor, parse_merge(sql), ctx,
                       ("INSERT", "UPDATE", "DELETE"), strict)
