"""MERGE INTO — upsert as one declarative Spark job.

Reference: `/root/reference/pkg/query/merge_processor.go` (parser
24-272, execution 348-367). The reference first tries the engine's
native MERGE and otherwise *decomposes* into sequential UPDATE / DELETE
/ INSERT statements (493-631) — non-atomic, phase-ordered.

Spark-first redesign: we build the post-merge table as ONE DataFrame —
a full-outer join of target and source with per-column CASE expressions
implementing WHEN-clause first-match semantics — and atomically swap it
in as a new table version. This is both atomic (the reference's
decomposed mode is not, gosnowflake_test.go:427-530 documents the
sequential semantics) and single-shuffle: at 100 TB it is a join +
write, not three separate scans of the target.

Counts (RowsInserted/Updated/Deleted, result.go:43-47) are collected
via ``DataFrame.observe`` during the single write pass — the join runs
exactly once (the r1 version re-ran it for a separate stats query).

Nondeterministic-match semantics: a target row matched by N source rows
contributes exactly ONE output row (first match by a deterministic
window order), mirroring the reference's decomposed ``UPDATE ... FROM``
which updates each target row once (merge_processor.go:493-548) —
Snowflake's ERROR_ON_NONDETERMINISTIC_MERGE=false behavior. The dedup
window partitions matched rows by a per-target-row id and unmatched
source rows by a per-source-row id, so no single window partition can
absorb all inserts (skew-safe at scale).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .. import errors
from ..catalog import Catalog
from ..plans.translator import Translator
from ..result import Result

_MERGE_HEAD_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.\"$]+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+",
    re.I,
)
_WHEN_SPLIT_RE = re.compile(r"\bWHEN\s+(NOT\s+)?MATCHED\b", re.I)


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
    source: str  # table name or (subquery)
    source_alias: str
    on_condition: str
    when_clauses: list[WhenClause] = field(default_factory=list)


def parse_merge(sql: str) -> MergeStatement:
    """Regex/scanner parser mirroring the reference's state machine
    (merge_processor.go:110-272), tolerant of subquery sources."""
    s = sql.strip().rstrip(";")
    m = _MERGE_HEAD_RE.match(s)
    if not m:
        raise errors.syntax_error(f"cannot parse MERGE INTO: {s[:80]}")
    target, target_alias = m.group(1), m.group(2)
    rest = s[m.end():]

    # source: either (subquery) [AS] alias  or  name [AS] alias
    rest = rest.lstrip()
    if rest.startswith("("):
        depth = 0
        for i, ch in enumerate(rest):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
        source = rest[: i + 1]
        rest = rest[i + 1 :].lstrip()
    else:
        sm = re.match(r"([\w.\"$]+)", rest)
        source = sm.group(1)
        rest = rest[sm.end():].lstrip()
    am = re.match(r"(?:AS\s+)?(\w+)\s+ON\s+", rest, re.I)
    if am and am.group(1).upper() != "ON":
        source_alias = am.group(1)
        rest = rest[am.end():]
    else:
        om = re.match(r"ON\s+", rest, re.I)
        if not om:
            raise errors.syntax_error("MERGE missing ON condition")
        source_alias = None
        rest = rest[om.end():]

    # ON condition runs until the first top-level WHEN
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
            sets: dict[str, str] = {}
            for part in Translator()._split_args(setm.group(1)):
                col, expr = part.split("=", 1)
                col = col.strip().split(".")[-1].strip('"').upper()
                sets[col] = expr.strip()
            clauses.append(WhenClause(is_matched, cond, "UPDATE", set_clauses=sets))
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
    stmt = MergeStatement(
        target=target,
        target_alias=target_alias or target.split(".")[-1],
        source=source,
        source_alias=source_alias or (source if not source.startswith("(") else "SRC").split(".")[-1],
        on_condition=on_condition,
        when_clauses=clauses,
    )
    return stmt


class MergeProcessor:
    def __init__(self, spark: SparkSession, catalog: Catalog, executor):
        self.spark = spark
        self.catalog = catalog
        self.executor = executor
        self.tr = Translator()

    def execute(self, sql: str, ctx) -> Result:
        stmt = parse_merge(sql)
        tm = self.catalog.get_table(stmt.target, ctx.database, ctx.schema)
        with self.executor.reading_streams() as streams:
            if stmt.source.startswith("("):
                source_df = self.executor.query_df(stmt.source[1:-1], ctx)
            else:
                try:
                    stm = self.catalog.get_table(stmt.source, ctx.database, ctx.schema)
                    source_df = self.catalog.read_table(stm)
                except errors.SnowflakeError:
                    # not a table: a stream or other resolvable relation
                    source_df = self.executor.query_df(f"SELECT * FROM {stmt.source}", ctx)

        t, s = stmt.target_alias, stmt.source_alias
        # per-statement unique view names: fixed names let a concurrent
        # MERGE on ANOTHER table replace the view between registration
        # and plan analysis (per-table write locks deliberately allow
        # cross-table parallelism) — silent cross-table corruption
        import uuid as _uuid

        suffix = _uuid.uuid4().hex[:12]
        tv, sv = f"__merge_target_{suffix}", f"__merge_source_{suffix}"
        from pyspark.sql import functions as F

        (
            source_df.withColumn("__s_exists", F.lit(True))
            .withColumn("__sid", F.monotonically_increasing_id())
            .createOrReplaceTempView(sv)
        )

        on = self.tr.translate_expr(stmt.on_condition)
        matched = [c for c in stmt.when_clauses if c.is_matched]
        not_matched = [c for c in stmt.when_clauses if not c.is_matched]

        # -- per-column value expression -------------------------------
        def matched_value(col: str) -> str:
            branches = []
            for c in matched:
                cond = self.tr.translate_expr(c.condition) if c.condition else "TRUE"
                if c.action == "UPDATE":
                    val = self.tr.translate_expr(c.set_clauses.get(col, f"{t}.{col}"))
                elif c.action == "DELETE":
                    val = f"{t}.{col}"  # row filtered out; value irrelevant
                branches.append(f"WHEN ({cond}) THEN ({val})")
            if not branches:
                return f"{t}.{col}"
            return "CASE " + " ".join(branches) + f" ELSE {t}.{col} END"

        def insert_value(col: str, tcols: list[str]) -> str:
            branches = []
            for c in not_matched:
                cond = self.tr.translate_expr(c.condition) if c.condition else "TRUE"
                cols = c.insert_cols or tcols
                if col in cols:
                    val = self.tr.translate_expr(c.insert_vals[cols.index(col)])
                else:
                    val = "NULL"
                branches.append(f"WHEN ({cond}) THEN ({val})")
            if not branches:
                return "NULL"
            return "CASE " + " ".join(branches) + " ELSE NULL END"

        tcols = [c.name.upper() for c in tm.columns]
        col_exprs = []
        for c in tm.columns:
            cu = c.name.upper()
            expr = (
                f"CASE WHEN coalesce({t}.__t_exists, FALSE) AND coalesce({s}.__s_exists, FALSE) "
                f"THEN ({matched_value(cu)}) "
                f"WHEN coalesce({t}.__t_exists, FALSE) THEN {t}.{cu} "
                f"ELSE ({insert_value(cu, tcols)}) END AS {cu}"
            )
            col_exprs.append(expr)

        # -- row-keep expression ---------------------------------------
        matched_keep_branches = []
        for c in matched:
            cond = self.tr.translate_expr(c.condition) if c.condition else "TRUE"
            keep = "FALSE" if c.action == "DELETE" else "TRUE"
            matched_keep_branches.append(f"WHEN ({cond}) THEN {keep}")
        matched_keep = (
            "CASE " + " ".join(matched_keep_branches) + " ELSE TRUE END"
            if matched_keep_branches
            else "TRUE"
        )
        insert_keep_branches = []
        for c in not_matched:
            cond = self.tr.translate_expr(c.condition) if c.condition else "TRUE"
            insert_keep_branches.append(f"WHEN ({cond}) THEN TRUE")
        insert_keep = (
            "CASE " + " ".join(insert_keep_branches) + " ELSE FALSE END"
            if insert_keep_branches
            else "FALSE"
        )
        keep = (
            f"CASE WHEN coalesce({t}.__t_exists, FALSE) AND coalesce({s}.__s_exists, FALSE) THEN ({matched_keep}) "
            f"WHEN coalesce({t}.__t_exists, FALSE) THEN TRUE "
            f"ELSE ({insert_keep}) END"
        )

        # first-match action id per matched row (drives both dedup
        # ordering — actionable matches win — and the observed counts)
        action_branches = []
        for c in matched:
            cond = self.tr.translate_expr(c.condition) if c.condition else "TRUE"
            action_branches.append(f"WHEN ({cond}) THEN '{c.action}'")
        matched_action = (
            "CASE " + " ".join(action_branches) + " ELSE 'NONE' END" if action_branches else "'NONE'"
        )
        tex = f"coalesce({t}.__t_exists, FALSE)"
        sex = f"coalesce({s}.__s_exists, FALSE)"
        action_expr = (
            f"CASE WHEN {tex} AND {sex} THEN ({matched_action}) "
            f"WHEN {tex} THEN 'KEEP' "
            f"WHEN ({insert_keep}) THEN 'INSERT' ELSE 'SKIP' END"
        )
        # dedup key: matched/unmatched-target rows group by target row
        # id; unmatched-source rows each form their own partition so
        # every NOT MATCHED source row is preserved and no partition
        # collects all inserts (skew-safe)
        part_key = (
            f"CASE WHEN {t}.__tid IS NOT NULL THEN concat('t', {t}.__tid) "
            f"ELSE concat('s', {s}.__sid) END"
        )
        join_sql = (
            f"SELECT {', '.join(col_exprs)}, ({keep}) AS __keep, "
            f"({action_expr}) AS __action, "
            f"ROW_NUMBER() OVER (PARTITION BY {part_key} "
            f"ORDER BY CASE WHEN ({matched_action}) = 'NONE' THEN 1 ELSE 0 END, {s}.__sid) AS __rn "
            f"FROM {tv} AS {t} FULL OUTER JOIN {sv} AS {s} ON ({on})"
        )
        join_sql = self.executor._resolve_subqueries(join_sql, ctx)
        # ERROR_ON_NONDETERMINISTIC_MERGE (Snowflake defaults to the
        # strict mode, and so does config.DEFAULT_SESSION_PARAMETERS): a
        # target row matched by MULTIPLE actionable source rows raises
        # instead of silently applying the first match. __rn = 2 with an
        # actionable action means at least two UPDATE/DELETE matches
        # landed on one target partition (the ORDER BY sorts actionable
        # matches first). The duplicate probe rides the SAME Observation
        # as the DML counters — attached below the __rn filter so every
        # join row flows through it — so strict mode costs zero extra
        # jobs; the check runs after the write job and before the
        # version is published, inside the table lock, so on violation
        # the new version is discarded and the statement raises,
        # leaving the table unchanged.
        strict = str(getattr(ctx, "parameters", {}).get(
            "ERROR_ON_NONDETERMINISTIC_MERGE", "TRUE")).upper() == "TRUE"

        from pyspark.sql import Observation

        obs = Observation()
        rn1 = F.col("__rn") == 1

        def merged(target_df: DataFrame) -> DataFrame:
            (
                target_df.withColumn("__t_exists", F.lit(True))
                .withColumn("__tid", F.monotonically_increasing_id())
                .createOrReplaceTempView(tv)
            )
            observed = self.spark.sql(join_sql).observe(
                obs,
                F.sum(F.when(rn1 & (F.col("__action") == "UPDATE"), 1).otherwise(0)).alias("upd"),
                F.sum(F.when(rn1 & (F.col("__action") == "DELETE"), 1).otherwise(0)).alias("del"),
                F.sum(F.when(rn1 & (F.col("__action") == "INSERT"), 1).otherwise(0)).alias("ins"),
                F.sum(
                    F.when((F.col("__rn") == 2) & F.col("__action").isin("UPDATE", "DELETE"), 1)
                    .otherwise(0)
                ).alias("dups"),
            )
            return observed.filter("__rn = 1").filter("__keep").drop("__keep", "__action", "__rn")

        def deterministic() -> None:
            if strict and int(obs.get["dups"] or 0):
                raise errors.execution_error(
                    "Duplicate row detected during DML action: a target row "
                    "was matched by multiple source rows "
                    "(ERROR_ON_NONDETERMINISTIC_MERGE=TRUE)"
                )

        try:
            self.catalog.write_table(tm, merged, check=deterministic)
        finally:
            for v in (tv, sv):
                try:
                    self.spark.catalog.dropTempView(v)
                except Exception:
                    pass
        stats = obs.get
        n_upd = int(stats["upd"] or 0)
        n_del = int(stats["del"] or 0)
        n_ins = int(stats["ins"] or 0)
        for sm in streams:
            self.catalog.advance_stream(sm)
        r = Result(
            columns=["number of rows inserted", "number of rows updated", "number of rows deleted"],
            rows=[[n_ins, n_upd, n_del]],
        )
        r.rows_inserted, r.rows_updated, r.rows_deleted = n_ins, n_upd, n_del
        return r
