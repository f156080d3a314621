"""Statement executor: classify -> translate -> run on Spark.

Plays the role of the reference's ``Executor``
(`/root/reference/pkg/query/executor.go:75-426`): queries are
translated and delegated to the engine (Spark SQL here, DuckDB there);
DDL and DML are parsed in this layer and applied through the catalog.

Name resolution: Snowflake's 3-level ``DB.SCHEMA.TABLE`` is flattened
onto Spark temp views named ``DB__SCHEMA__TABLE``
(cf. `pkg/query/table_naming.go:23-40`). Qualified references in SQL are
rewritten onto those views; bare names of the session's current
namespace are bound inside the statement itself, one CTE per name, so
unqualified SQL works like the reference's default-namespace behavior
without one session's namespace living in Spark's shared temp views.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import re
import threading
import time
import uuid
from collections import OrderedDict

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from . import config, errors
from .catalog import (OBJECT_KINDS, Catalog, ColumnDef, FileFormatMeta, FunctionMeta,
                      MaskingPolicyMeta, PipeMeta, RowAccessPolicyMeta, SequenceMeta,
                      StageMeta, StreamMeta, TaskMeta, ViewMeta, column_defs)
from .plans import bindings as bindmod
from .plans.classifier import StatementType, classify
from .plans.translator import Translator
from .result import Result
from .statements import StatementStore


class SessionContext:
    """Per-session namespace + parameters (reference:
    pkg/session/manager.go:14-27)."""

    def __init__(self, database: str | None = None, schema: str | None = None):
        from . import config

        self.database = database or config.DEFAULT_DATABASE
        self.schema = schema or config.DEFAULT_SCHEMA
        # session identity surfaced by context functions
        # (CURRENT_USER/ROLE/WAREHOUSE/ACCOUNT/...); HTTP sessions
        # override from the login body, USE WAREHOUSE/ROLE mutate
        self.user: str = config.DEFAULT_USER
        self.role: str = config.DEFAULT_ROLE
        self.warehouse: str = config.DEFAULT_WAREHOUSE
        self.account: str = config.DEFAULT_ACCOUNT
        self.session_id: str | None = None
        # most recent query id this session (LAST_QUERY_ID())
        self.last_query_id: str | None = None
        self.parameters: dict[str, str] = dict(config.DEFAULT_SESSION_PARAMETERS)
        # SET <var> = <expr> session variables ($var substitution)
        self.variables: dict[str, object] = {}


_LAST_QID_RE = re.compile(r"\bLAST_QUERY_ID\s*\(\s*(-?\d+)?\s*\)", re.I)

_CREATE_DB_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?([\w\"$]+)"
    r"(?:\s+COMMENT\s*=\s*'((?:[^']|'')*)')?\s*$",
    re.I,
)
_DROP_DB_RE = re.compile(r"^\s*DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?([\w\"$]+)\s*$", re.I)
_CREATE_SCHEMA_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)"
    r"(?:\s+COMMENT\s*=\s*'((?:[^']|'')*)')?\s*$",
    re.I,
)
_DROP_SCHEMA_RE = re.compile(r"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?([\w.\"$]+)\s*$", re.I)
_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:(?:LOCAL|GLOBAL)\s+)?(?:(?P<kind>TEMP|TEMPORARY|TRANSIENT)\s+)?TABLE\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)\s*\((.*)\)\s*(?:COMMENT\s*=\s*'((?:[^']|'')*)')?\s*$",
    re.I | re.S,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:(?:LOCAL|GLOBAL)\s+)?(?:(?P<kind>TEMP|TEMPORARY|TRANSIENT)\s+)?TABLE\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)\s+AS\s+(SELECT\b.*|WITH\b.*|VALUES\b.*)$",
    re.I | re.S,
)
# DROP of any schema object, tables included: the kind is a key of
# catalog.OBJECT_KINDS or one of _TABLE_KINDS; a function's or
# procedure's argument types may follow its name
_TABLE_KINDS = ("TABLE", "DYNAMIC TABLE", "MATERIALIZED VIEW")
_DROP_OBJECT_RE = re.compile(
    r"^\s*DROP\s+(" + "|".join(k.replace(" ", r"\s+") for k in (*_TABLE_KINDS, *OBJECT_KINDS))
    + r")\s+(IF\s+EXISTS\s+)?([\w.\"$]+)\s*(?:\([^)]*\))?\s*$", re.I)
_CREATE_STAGE_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMPORARY\s+|TEMP\s+)?STAGE\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)", re.I)
_CREATE_FF_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?FILE\s+FORMAT\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)\s+(.*)$",
    re.I | re.S)
_CREATE_EXT_TABLE_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?EXTERNAL\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)\s+"
    r"(?:WITH\s+)?LOCATION\s*=\s*@([\w.\"$]+)(/\S*)?\s*"
    r"(?:FILE_FORMAT\s*=\s*\(([^)]*)\))?\s*$",
    re.I | re.S,
)
_ALTER_EXT_REFRESH_RE = re.compile(
    r"^\s*ALTER\s+EXTERNAL\s+TABLE\s+([\w.\"$]+)\s+REFRESH\s*(?:'[^']*')?\s*$", re.I)
_CREATE_PIPE_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?PIPE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)\s+"
    r"(?:AUTO_INGEST\s*=\s*\w+\s+)?(?:COMMENT\s*=\s*'[^']*'\s+)?"
    r"AS\s+(COPY\s+INTO\b.*)$",
    re.I | re.S,
)
_ALTER_PIPE_REFRESH_RE = re.compile(
    r"^\s*ALTER\s+PIPE\s+([\w.\"$]+)\s+REFRESH\s*$", re.I)
_CLONE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)\s+"
    r"CLONE\s+([\w.\"$]+)\s*(?:AT\s*\(\s*(VERSION|OFFSET|TIMESTAMP)\s*=>\s*([^)]+)\))?\s*$",
    re.I,
)
_UNDROP_TABLE_RE = re.compile(r"^\s*UNDROP\s+TABLE\s+([\w.\"$]+)\s*$", re.I)
_CREATE_SEQ_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)(.*)$",
    re.I | re.S,
)
# SQL scalar UDF: CREATE FUNCTION f(a NUMBER, b VARCHAR) RETURNS NUMBER
# LANGUAGE PYTHON scalar UDFs (Snowflake-real surface; the reference
# rules all UDFs out): the body is a Python module, HANDLER names the
# entry point, registered as a Spark Python UDF. The code runs
# unsandboxed in the engine process — a single-user emulator, like
# running Snowflake's sandbox-side code locally.
_CREATE_PYFUNC_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?FUNCTION\s+([\w.\"$]+)\s*\((.*?)\)\s*"
    r"RETURNS\s+([\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*"
    r"LANGUAGE\s+PYTHON\s+"
    r"(?:RUNTIME_VERSION\s*=\s*'[^']*'\s*)?"
    r"(?:PACKAGES\s*=\s*\([^)]*\)\s*)?"
    r"(?:COMMENT\s*=\s*'([^']*)'\s*)?"
    r"HANDLER\s*=\s*'(\w+)'\s*AS\s+\$\$(.*?)\$\$\s*$",
    re.I | re.S,
)
# [LANGUAGE SQL] AS 'expr' | AS $$expr$$
_CREATE_FUNC_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?FUNCTION\s+([\w.\"$]+)\s*\((.*?)\)\s*"
    r"RETURNS\s+(TABLE\s*\(.*?\)|[\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*"
    r"(?:LANGUAGE\s+SQL\s+)?"
    r"(?:COMMENT\s*=\s*'([^']*)'\s*)?AS\s+(?:\$\$(.*?)\$\$|'(.*?)')\s*$",
    re.I | re.S,
)
# metadata-only RBAC (beyond reference): grants recorded and listable,
# not enforced — the single-user emulator has no authz boundary to
# enforce against, like the reference's single-account model
_GRANT_RE = re.compile(
    r"^\s*GRANT\s+([\w\s,]+?)\s+ON\s+(TABLE|VIEW|SCHEMA|DATABASE|WAREHOUSE|FUNCTION)\s+"
    r"([\w.\"$]+)\s+TO\s+(ROLE|USER)\s+([\w\"$]+)\s*$", re.I)
_REVOKE_RE = re.compile(
    r"^\s*REVOKE\s+([\w\s,]+?)\s+ON\s+(TABLE|VIEW|SCHEMA|DATABASE|WAREHOUSE|FUNCTION)\s+"
    r"([\w.\"$]+)\s+FROM\s+(ROLE|USER)\s+([\w\"$]+)\s*$", re.I)
_NEXTVAL_RE = re.compile(r"\b([A-Za-z_]\w*(?:\.[A-Za-z_]\w*){0,2})\.NEXTVAL\b", re.I)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:SECURE\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)\s*"
    r"(?:\(([^)]*)\)\s*)?(?:COMMENT\s*=\s*'([^']*)'\s*)?AS\s+(SELECT\b.*|WITH\b.*)$",
    re.I | re.S,
)
_CREATE_STREAM_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?STREAM\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)\s+"
    r"ON\s+TABLE\s+([\w.\"$]+)\s*(?:APPEND_ONLY\s*=\s*(TRUE|FALSE))?\s*"
    r"(?:COMMENT\s*=\s*'((?:[^']|'')*)')?\s*$",
    re.I,
)
_CREATE_TASK_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TASK\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)"
    r"((?:\s+(?:WAREHOUSE\s*=\s*[\w\"$]+|SCHEDULE\s*=\s*'(?:[^']|'')*'|COMMENT\s*=\s*'(?:[^']|'')*'))*)"
    r"\s+AS\s+(.+)$",
    re.I | re.S,
)
_CREATE_DYNTABLE_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?DYNAMIC\s+TABLE\s+([\w.\"$]+)"
    r"(?:\s+TARGET_LAG\s*=\s*'((?:[^']|'')*)')?(?:\s+WAREHOUSE\s*=\s*[\w\"$]+)?"
    r"\s+AS\s+(SELECT\b.*|WITH\b.*)$",
    re.I | re.S,
)
_CREATE_MV_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+([\w.\"$]+)\s+AS\s+(.*)$",
    re.I | re.S)
# ALTER DYNAMIC TABLE | MATERIALIZED VIEW t REFRESH
_REFRESH_RE = re.compile(
    r"^\s*ALTER\s+(DYNAMIC\s+TABLE|MATERIALIZED\s+VIEW)\s+([\w.\"$]+)\s+REFRESH\s*$", re.I)
_ALTER_TASK_RE = re.compile(r"^\s*ALTER\s+TASK\s+([\w.\"$]+)\s+(RESUME|SUSPEND)\s*$", re.I)
_EXECUTE_TASK_RE = re.compile(r"^\s*EXECUTE\s+TASK\s+([\w.\"$]+)\s*$", re.I)
# Snowflake stream metadata columns: Spark SQL needs them backticked
# (unquoted identifiers cannot contain '$')
_STREAM_META_RE = re.compile(r"(?<!`)\bMETADATA\$(ACTION|ISUPDATE|ROW_ID)\b", re.I)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?(IF\s+EXISTS\s+)?([\w.\"$]+)\s*$", re.I)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(OVERWRITE\s+)?INTO\s+([\w.\"$]+)\s*(?:\(([^)]*)\))?\s*(VALUES\b.*|SELECT\b.*|WITH\b.*)$",
    re.I | re.S,
)
# Snowflake multi-table insert: INSERT [OVERWRITE] ALL|FIRST
#   [WHEN cond THEN] INTO t [(cols)] [VALUES (exprs)] ...
#   [ELSE INTO t ...] SELECT ...
_INSERT_MULTI_RE = re.compile(
    r"^\s*INSERT\s+(OVERWRITE\s+)?(ALL|FIRST)\s+(.+?)\s*((?:SELECT|WITH)\b.*)$",
    re.I | re.S,
)
_INSERT_MULTI_CLAUSE_RE = re.compile(
    r"(?:(ELSE)\s+|WHEN\s+(.+?)\s+THEN\s+)?INTO\s+([\w.\"$]+)\s*"
    r"(?:\(([^)]*)\)\s*)?(?:VALUES\s*\(([^)]*)\)\s*)?",
    re.I | re.S,
)
_CREATE_TABLE_LIKE_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"$]+)\s+LIKE\s+([\w.\"$]+)\s*$",
    re.I,
)
_ALTER_TABLE_DROP_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"$]+)\s+DROP\s+(?:COLUMN\s+)?([\w\"$]+)\s*$", re.I
)
#  time-travel retention knob (DATA_RETENTION_TIME_IN_DAYS analog —
#  the emulator's history unit is the table version, not the day)
_ALTER_TABLE_RETENTION_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"$]+)\s+SET\s+DATA_RETENTION_VERSIONS\s*=\s*(\d+)\s*$",
    re.I,
)
_ALTER_TABLE_RENAME_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"$]+)\s+RENAME\s+COLUMN\s+([\w\"$]+)\s+TO\s+([\w\"$]+)\s*$",
    re.I,
)
_COMMENT_ON_RE = re.compile(
    r"^\s*COMMENT\s+ON\s+TABLE\s+([\w.\"$]+)\s+IS\s+'([^']*)'\s*$", re.I
)
_COMMENT_ON_COLUMN_RE = re.compile(
    r"^\s*COMMENT\s+ON\s+COLUMN\s+([\w.\"$]+)\.([\w\"$]+)\s+IS\s+'([^']*)'\s*$",
    re.I,
)
_ALTER_VIEW_RENAME_RE = re.compile(
    r"^\s*ALTER\s+VIEW\s+([\w.\"$]+)\s+RENAME\s+TO\s+([\w.\"$]+)\s*$", re.I)
_DELETE_ALL_RE = re.compile(r"^\s*DELETE\s+FROM\s+([\w.\"$]+)\s*$", re.I)
_UPDATE_DELETE_RE = re.compile(r"^\s*(UPDATE|DELETE)\b", re.I)
_USE_RE = re.compile(r"^\s*USE\s+(?:(DATABASE|SCHEMA|WAREHOUSE|ROLE)\s+)?([\w.\"$]+)\s*$", re.I)
# negative lookahead: ADD PRIMARY KEY / UNIQUE / CONSTRAINT / FOREIGN
# KEY must NOT parse as an add-column (the constraint keyword would
# become a bogus string column and rewrite the table)
_ALTER_TABLE_ADD_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"$]+)\s+ADD\s+(?:COLUMN\s+)?"
    r"(?!(?:PRIMARY|UNIQUE|CONSTRAINT|FOREIGN|CHECK)\b)"
    r"([\w\"$]+)\s+(.+?)\s*$", re.I
)
_ALTER_TABLE_RECLUSTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"$]+)\s+RECLUSTER\s*$", re.I)
_ALTER_TABLE_RENAME_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"$]+)\s+RENAME\s+TO\s+([\w.\"$]+)\s*$", re.I
)
_CREATE_MASKING_POLICY_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?MASKING\s+POLICY\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([\w.\"$]+)\s+AS\s*\(\s*([\w\"$]+)\s+([A-Za-z_]\w*(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*\)\s*"
    r"RETURNS\s+([A-Za-z_]\w*(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*->\s*(.+?)\s*$",
    re.I | re.S,
)
_CREATE_ROW_POLICY_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?ROW\s+ACCESS\s+POLICY\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([\w.\"$]+)\s+AS\s*\(([^)]*)\)\s*RETURNS\s+BOOLEAN\s*->\s*(.+?)\s*$",
    re.I | re.S,
)
_ALTER_TABLE_ADD_ROW_POLICY_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"$]+)\s+ADD\s+ROW\s+ACCESS\s+POLICY\s+([\w.\"$]+)"
    r"\s+ON\s*\(([^)]*)\)\s*$", re.I)
_ALTER_TABLE_DROP_ROW_POLICY_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"$]+)\s+DROP\s+(?:ALL\s+)?ROW\s+ACCESS\s+"
    r"POLIC(?:Y\s+[\w.\"$]+|IES)\s*$", re.I)
_ALTER_TABLE_SWAP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.\"$]+)\s+SWAP\s+WITH\s+([\w.\"$]+)\s*$",
    re.I,
)
# ALTER TABLE t ALTER|MODIFY [COLUMN] c  SET DATA TYPE X | TYPE X |
#   [SET|DROP] NOT NULL | SET DEFAULT e | DROP DEFAULT | COMMENT 'x'
_ALTER_COLUMN_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"$]+)\s+(?:ALTER|MODIFY)\s+(?:COLUMN\s+)?([\w\"$]+)\s+(.+?)\s*$",
    re.I | re.S,
)


_LEADING_WITH_RE = re.compile(r"(?:\s+|--[^\n]*|/\*.*?\*/)*WITH\b", re.I | re.S)
_SUBQUERY_RE = re.compile(r"\(\s*(?:SELECT|WITH)\b", re.I)
# keywords that open a clause: a comma names another relation only in a
# FROM clause (Executor._resolve_names)
_CLAUSE_WORDS = frozenset((
    "SELECT", "FROM", "WHERE", "GROUP", "HAVING", "QUALIFY", "ORDER", "LIMIT",
    "WINDOW", "UNION", "INTERSECT", "EXCEPT", "MINUS", "VALUES", "SET",
    "PIVOT", "UNPIVOT"))


def _inside_string(s: str, pos: int) -> bool:
    """True when ``pos`` falls inside a single-quoted SQL string
    (''-escape aware). Comment spans (``-- ...`` / ``/* ... */``) are
    skipped — an apostrophe in a comment (``-- don't``) must not open
    a string and poison every later guard in the statement."""
    in_str = False
    i = 0
    while i < pos:
        if not in_str and s.startswith("--", i):
            j = s.find("\n", i + 2)
            i = len(s) if j < 0 else j + 1
            continue
        if not in_str and s.startswith("/*", i):
            j = s.find("*/", i + 2)
            i = len(s) if j < 0 else j + 2
            continue
        if s[i] == "'":
            if in_str and i + 1 < len(s) and s[i + 1] == "'":
                i += 2
                continue
            in_str = not in_str
        i += 1
    return in_str


def sql_literal(v) -> str:
    """Render a Python value as a SQL literal (shared by session-var
    substitution and the scripting engine — one renderer, no drift)."""
    import datetime as _dt
    import decimal as _decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float, _decimal.Decimal)):
        return str(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    return "'" + str(v).replace("'", "''") + "'"


# INFORMATION_SCHEMA views over Catalog.objects: the kind, the view's
# schema, and the columns of one object after its catalog, schema and name
_INFO_SCHEMA_OBJECTS = {
    "VIEWS": ("VIEW", "table_catalog string, table_schema string, table_name string, "
              "view_definition string", lambda o: (o.sql_text,)),
    "STREAMS": ("STREAM", "stream_catalog string, stream_schema string, stream_name string, "
                "table_name string, mode string, comment string",
                lambda o: (".".join(o.src), "APPEND_ONLY" if o.append_only else "DEFAULT",
                           o.comment)),
    "TASKS": ("TASK", "task_catalog string, task_schema string, task_name string, "
              "schedule string, state string, definition string, comment string",
              lambda o: (o.schedule, o.state, o.sql_text, o.comment)),
    "FUNCTIONS": ("FUNCTION", "function_catalog string, function_schema string, "
                  "function_name string, argument_signature string, data_type string, "
                  "function_language string, function_definition string, comment string",
                  lambda o: (", ".join(o.arg_types),
                             "TABLE" if o.table_columns is not None else o.returns,
                             o.language, o.body, o.comment)),
    "SEQUENCES": ("SEQUENCE", "sequence_catalog string, sequence_schema string, "
                  "sequence_name string, start_value bigint, increment bigint",
                  lambda o: (o.start, o.increment)),
    "PIPES": ("PIPE", "pipe_catalog string, pipe_schema string, pipe_name string, "
              "definition string", lambda o: (o.copy_sql,)),
}

# SHOW <kind> over Catalog.objects: the kind, the result's columns and
# the row of one object
_SHOW_OBJECTS = {
    "VIEWS": ("VIEW", ["name", "database_name", "schema_name", "text", "comment"],
              lambda o: [o.name, o.database, o.schema, o.sql_text[:200], o.comment]),
    "STREAMS": ("STREAM", ["name", "database_name", "schema_name", "table_name", "mode",
                           "comment"],
                lambda o: [o.name, o.database, o.schema, ".".join(o.src),
                           "APPEND_ONLY" if o.append_only else "DEFAULT", o.comment]),
    "TASKS": ("TASK", ["name", "database_name", "schema_name", "schedule", "state",
                       "warehouse", "definition", "comment"],
              lambda o: [o.name, o.database, o.schema, o.schedule, o.state, o.warehouse,
                         o.sql_text[:200], o.comment]),
    "SEQUENCES": ("SEQUENCE", ["name", "database_name", "schema_name", "start", "increment"],
                  lambda o: [o.name, o.database, o.schema, o.start, o.increment]),
    "FUNCTIONS": ("FUNCTION", ["name", "database_name", "schema_name", "arguments",
                               "language", "comment"],
                  lambda o: [o.name, o.database, o.schema,
                             f"{o.name}({', '.join(o.arg_types)}) RETURN {o.returns}",
                             "SQL", o.comment]),
    "PROCEDURES": ("PROCEDURE", ["name", "schema_name", "database_name", "arguments",
                                 "language"],
                   lambda o: [o.name, o.schema, o.database,
                              f"{o.name}({', '.join(o.arg_types)}) RETURN {o.returns}",
                              "SQL"]),
    "MASKING POLICIES": ("MASKING POLICY", ["name", "database_name", "schema_name",
                                            "signature", "return_type", "body", "comment"],
                         lambda o: [o.name, o.database, o.schema,
                                    f"({o.arg_name} {o.arg_type})", o.returns, o.body,
                                    o.comment]),
    "ROW ACCESS POLICIES": ("ROW ACCESS POLICY", ["name", "database_name", "schema_name",
                                                  "signature", "return_type", "body",
                                                  "comment"],
                            lambda o: [o.name, o.database, o.schema, o.signature,
                                       "BOOLEAN", o.body, o.comment]),
    "STAGES": ("STAGE", ["name", "database_name", "schema_name"],
               lambda o: [o.name, o.database, o.schema]),
    "FILE FORMATS": ("FILE FORMAT", ["name", "type"], lambda o: [o.name, o.format_type]),
    "PIPES": ("PIPE", ["name", "database_name", "schema_name", "definition"],
              lambda o: [o.name, o.database, o.schema, o.copy_sql]),
}
_SHOW_OBJECTS["USER FUNCTIONS"] = _SHOW_OBJECTS["FUNCTIONS"]


class Executor:
    def __init__(self, spark: SparkSession, catalog: Catalog, statements: StatementStore):
        self.spark = spark
        self.catalog = catalog
        # the engine's per-query records: history, RESULT_SCAN, AT(STATEMENT)
        self.statements = statements
        self.translator = Translator()
        # per-thread stack of the read pins and temp views of the
        # statement running on this thread (_statement_scope)
        self._tt_local = threading.local()
        # views currently being planned (cycle guard) — PER THREAD:
        # a shared set made two concurrent first queries of the same
        # view spuriously raise 'cyclic view reference'
        self._views_in_progress_tl = threading.local()
        # INFORMATION_SCHEMA registrations: view name -> catalog.mutation
        # at build time
        self._info_schema_cache: dict[str, int] = {}
        # query result cache (r8; Snowflake USE_CACHED_RESULT): an
        # identical SELECT against an unchanged catalog re-serves the
        # stored Result instead of re-executing. Keyed on the bound
        # SQL + session namespace + session variables; invalidated by
        # comparing the catalog's mutation counter (every DDL/DML bumps
        # it, so any write anywhere invalidates — conservative and
        # correct). LRU-capped.
        self._query_cache: "OrderedDict[str, tuple[int, Result]]" = OrderedDict()
        self._query_cache_cap = 50

    def execute(self, sql: str, ctx: SessionContext,
                bindings: dict | None = None) -> Result:
        """Run one statement; ``Engine.execute`` holds its record."""
        with self._statement_scope():
            return self._dispatch(sql, ctx, bindings)

    def _statement_views(self) -> list[tuple]:
        """This thread's stack of what the running statement holds until
        it ends: (table, version, None) for each version a read pinned
        (``_pinned_view``), and (None, None, view) for each temp view it
        registered (MATCH_RECOGNIZE output, DML sources and targets)."""
        pins = getattr(self._tt_local, "pins", None)
        if pins is None:
            pins = self._tt_local.pins = []
        return pins

    @contextlib.contextmanager
    def _statement_scope(self):
        """Run the block as one statement: release the read pins and
        temp views it takes on this thread when it ends (a nested scope
        releases only its own). Each view's plan is analyzed by then, so
        dropping it cannot change a running read."""
        stack = self._statement_views()
        depth, outer = len(stack), getattr(self._tt_local, "in_statement", False)
        self._tt_local.in_statement = True
        try:
            yield
        finally:
            self._tt_local.in_statement = outer
            while len(stack) > depth:
                tm, version, view = stack.pop()
                if view is not None:
                    self.spark.catalog.dropTempView(view)
                else:
                    self.catalog.unpin_version_for_read(tm, version)

    # ------------------------------------------------------------------
    # RESULT_SCAN (beyond reference: Snowflake result re-serve)
    # ------------------------------------------------------------------

    def _result_scan_view(self, qid: str) -> str:
        """The temp view over the stored result of ``qid``, registered on
        its first RESULT_SCAN and dropped with the result."""
        res = self.statements.result(qid)
        st = self.statements.get(qid)
        if st.view is None:
            if getattr(res, "_df", None) is not None:
                # StreamedResult: re-serve straight from the DataFrame —
                # RESULT_SCAN over a large result never materializes it
                df = res._df
            elif res.spark_schema is not None:
                df = self.spark.createDataFrame(res.rows, res.spark_schema)
            else:  # status/DML results: string rows, like the protocol shape
                from pyspark.sql import types as T

                schema = T.StructType([T.StructField(c, T.StringType()) for c in res.columns])
                df = self.spark.createDataFrame(
                    [[None if v is None else str(v) for v in r] for r in res.rows], schema)
            view = "__result_scan_" + re.sub(r"\W", "_", qid.lower())
            df.createOrReplaceTempView(view)
            st.view = view
        return st.view

    def _rewrite_nextval_literal(self, sql: str, ctx: SessionContext) -> str:
        """NEXTVAL inside inline ``VALUES`` rows: Spark forbids
        nondeterministic expressions in inline tables, and each textual
        occurrence is exactly one row's value — so substitute literal
        values drawn driver-side (still unique vs. block-reserved
        statements, which draw from the same counter)."""
        if "NEXTVAL" not in sql.upper():
            return sql

        def repl(m: re.Match) -> str:
            try:
                sm = self.catalog.get("SEQUENCE", m.group(1), ctx.database, ctx.schema)
            except errors.SnowflakeError:
                return m.group(0)
            return str(self.catalog.next_sequence_value(sm))

        return _NEXTVAL_RE.sub(repl, sql)

    def _rewrite_nextval(self, sql: str, ctx: SessionContext) -> str:
        """``seq.NEXTVAL`` -> block-reserved distributed values: one
        driver-side counter bump reserves the statement's value block,
        then each row draws ``base + monotonically_increasing_id() *
        increment`` executor-side — unique, parallel, no shuffle.
        Snowflake sequences promise uniqueness, not gaplessness, so the
        block reservation (and its gaps) is semantics-preserving."""
        if "NEXTVAL" not in sql.upper():
            return sql

        def repl(m: re.Match) -> str:
            try:
                sm = self.catalog.get("SEQUENCE", m.group(1), ctx.database, ctx.schema)
            except errors.SnowflakeError:
                return m.group(0)  # not a sequence: leave for Spark to resolve
            if getattr(self._tt_local, "describe_only", False):
                # describeOnly preparation must not consume sequence
                # values; the zero-based expression is schema-identical
                return (f"CAST(0 + monotonically_increasing_id() * "
                        f"{sm.increment} AS BIGINT)")
            base = self.catalog.reserve_sequence_block(sm)
            return f"CAST({base} + monotonically_increasing_id() * {sm.increment} AS BIGINT)"

        return _NEXTVAL_RE.sub(repl, sql)

    def _rewrite_result_scan(self, sql: str, ctx: SessionContext) -> str:
        up = sql.upper()
        if "RESULT_SCAN" not in up and "LAST_QUERY_ID" not in up:
            return sql
        # LAST_QUERY_ID() / LAST_QUERY_ID(-1) -> the session's most
        # recent query id; other offsets (deeper history) return NULL
        # (only the last id is tracked per session)
        sql = _LAST_QID_RE.sub(
            lambda m: (f"'{ctx.last_query_id or ''}'"
                       if m.group(1) in (None, "-1", "1") else "NULL"),
            sql)

        def repl(m: re.Match) -> str:
            return self._result_scan_view(m.group(1))

        sql = re.sub(r"\bTABLE\s*\(\s*RESULT_SCAN\s*\(\s*'([^']*)'\s*\)\s*\)",
                     repl, sql, flags=re.I)
        return re.sub(r"\bRESULT_SCAN\s*\(\s*'([^']*)'\s*\)", repl, sql, flags=re.I)

    def _apply_table_kind(self, kindkw: str | None, name: str,
                          ctx: SessionContext) -> None:
        """Record TEMP/TEMPORARY/TRANSIENT on a just-created table
        (beyond reference — its DDL has no table kinds). TEMPORARY
        tables are dropped when their owning session closes; the owner
        is the Session object the HTTP layer threads through the ctx
        (direct Engine callers own theirs for the engine's lifetime —
        the single-process emulator does not isolate temp-table
        NAMES between sessions, documented restriction). TRANSIENT is
        Snowflake's no-fail-safe flavor: recorded in SHOW TABLES and
        retention tightened to 1 version."""
        if not kindkw:
            return
        tm = self.catalog.get_table(name, ctx.database, ctx.schema)
        self.catalog.mark_table_kind(
            tm, kindkw.upper(), owner=getattr(ctx, "_session", ctx))

    # tokens whose presence makes a query's result time-, session- or
    # randomness-dependent — never served from the result cache
    # (Snowflake's own USE_CACHED_RESULT exclusions, plus our
    # query-history/INFORMATION_SCHEMA surfaces which change without a
    # catalog mutation)
    _UNCACHEABLE_RE = re.compile(
        r"\b(?:RANDOM|RAND|RANDSTR|RANDN|UNIFORM|NORMAL|ZIPF|"
        r"UUID_STRING|UUID|CURRENT_TIMESTAMP|CURRENT_DATE|"
        r"CURRENT_TIME|LOCALTIME(?:STAMP)?|SYSDATE|GETDATE|SYSTIMESTAMP|NOW|"
        r"NEXTVAL|SEQ[148]|GENERATOR|RESULT_SCAN|LAST_QUERY_ID|SAMPLE|"
        r"TABLESAMPLE|INFORMATION_SCHEMA|QUERY_HISTORY|"
        # context functions: user/role/warehouse/session are NOT part
        # of the cache key payload, so queries reading them must never
        # be served from cache (db/schema ARE keyed, but keep the
        # exclusion uniform — these queries are trivially cheap anyway)
        r"CURRENT_USER|CURRENT_ROLE|CURRENT_WAREHOUSE|CURRENT_SESSION|"
        r"CURRENT_TRANSACTION|CURRENT_CLIENT|CURRENT_AVAILABLE_ROLES)\b"
        r"|\bAT\s*\(|\bBEFORE\s*\(",
        re.I)

    def _query_cache_key(self, sql: str, ctx: SessionContext) -> str | None:
        """Cache key for a bound SELECT, or None when the query is not
        safely cacheable: nondeterministic/time-travel tokens, or any
        reference to a registered UDF (bodies may be volatile —
        Snowflake treats volatile-UDF queries as uncacheable too)."""
        if str(ctx.parameters.get("USE_CACHED_RESULT", "true")).lower() not in (
                "true", "1", "yes", "on"):
            return None
        if self._UNCACHEABLE_RE.search(sql):
            return None
        for (_db, _sch, fn) in self.catalog.objects["FUNCTION"]:
            if re.search(rf"\b{re.escape(fn)}\s*\(", sql, re.I):
                return None
        import hashlib

        variables = getattr(ctx, "variables", None) or {}
        payload = "|".join([sql, str(ctx.database), str(ctx.schema),
                            repr(sorted(variables.items()))])
        # masked reads depend on session identity even when the query
        # text mentions no context function: key per role/user whenever
        # any masking policy exists (zero-cost when the feature is unused)
        if self.catalog.objects["MASKING POLICY"] or self.catalog.objects["ROW ACCESS POLICY"]:
            payload += f"|{ctx.role}|{ctx.user}"
        return hashlib.md5(payload.encode()).hexdigest()

    # SQL-level MATCH_RECOGNIZE (beyond reference). r10: overlapping
    # DEFINE predicates are supported (bitmask + greedy backtracking
    # matcher), as is AFTER MATCH SKIP TO NEXT ROW; ONE/ALL ROWS PER
    # MATCH both work. FROM t MATCH_RECOGNIZE (...) [alias]
    # is rewritten onto a temp view produced by the applyInPandas
    # operator; MEASURES supports FIRST(col)/LAST(col)/COUNT(*)/
    # MATCH_NUMBER() mapped onto the operator's output columns.
    _MATCH_RECOGNIZE_RE = re.compile(
        r"\bFROM\s+([\w.\"$]+)\s+MATCH_RECOGNIZE\s*\(", re.I)

    def _rewrite_match_recognize(self, sql: str, ctx: SessionContext) -> str:
        if "MATCH_RECOGNIZE" not in sql.upper():
            return sql
        m = self._MATCH_RECOGNIZE_RE.search(sql)
        if not m or _inside_string(sql, m.start()):
            return sql
        from .plans.translator import match_paren

        open_idx = sql.index("(", m.end() - 1)
        close_idx = match_paren(sql, open_idx)
        if close_idx < 0:
            raise errors.syntax_error("unbalanced MATCH_RECOGNIZE clause")
        body = sql[open_idx + 1:close_idx]
        tail = sql[close_idx + 1:]
        am = re.match(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", tail)
        alias = ""
        if am and am.group(1).upper() not in (
                "WHERE", "GROUP", "ORDER", "LIMIT", "QUALIFY", "HAVING",
                "UNION", "INTERSECT", "EXCEPT", "MINUS", "JOIN", "LEFT",
                "RIGHT", "INNER", "FULL", "CROSS", "ON"):
            alias = " " + am.group(1)
            tail = tail[am.end():]

        def _sect(kw: str, stop: str) -> str:
            sm = re.search(rf"\b{kw}\b(.*?)(?={stop}|$)", body, re.I | re.S)
            return sm.group(1).strip() if sm else ""

        part = _sect("PARTITION\\s+BY", r"\bORDER\b|\bMEASURES\b|\bPATTERN\b")
        order = _sect("ORDER\\s+BY",
                      r"\bMEASURES\b|\bONE\b|\bALL\b|\bAFTER\b|\bPATTERN\b")
        measures = _sect("MEASURES",
                         r"\bONE\s+ROW\b|\bALL\s+ROWS\b|\bAFTER\s+MATCH\b|\bPATTERN\b")
        pkw = re.search(r"\bPATTERN\s*\(", body, re.I)
        pattern_text = None
        if pkw:
            popen = body.index("(", pkw.start())
            pclose = match_paren(body, popen)
            if pclose < 0:
                raise errors.syntax_error("unbalanced PATTERN clause")
            pattern_text = body[popen + 1:pclose]
        dm = re.search(r"\bDEFINE\b(.*)$", body, re.I | re.S)
        if not order or pattern_text is None or not dm:
            raise errors.syntax_error(
                "MATCH_RECOGNIZE requires ORDER BY, PATTERN and DEFINE")
        all_rows = bool(re.search(r"\bALL\s+ROWS\s+PER\s+MATCH\b", body, re.I))
        # r11: AFTER MATCH SKIP TO [FIRST|LAST] <symbol> (SQL:2016 —
        # bare `SKIP TO <symbol>` means SKIP TO LAST per the standard);
        # NEXT ROW / PAST LAST ROW parsed first so `TO NEXT` is never
        # read as a symbol
        skip_m = re.search(
            r"\bAFTER\s+MATCH\s+SKIP\s+(?:(PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW)"
            r"|TO\s+(?:(FIRST|LAST)\s+)?([A-Za-z_]\w*))",
            body, re.I)
        after_match = "past_last"
        skip_to_symbol = None
        if skip_m:
            if skip_m.group(1):
                if "NEXT" in skip_m.group(1).upper():
                    after_match = "next_row"
            else:
                mode = (skip_m.group(2) or "LAST").lower()
                skip_to_symbol = (mode, skip_m.group(3))
        part_cols = [c.strip().strip('"') for c in part.split(",") if c.strip()]
        if len(part_cols) != 1:
            raise errors.syntax_error(
                "MATCH_RECOGNIZE: exactly one PARTITION BY column is required")
        order_cols = [re.sub(r"\s+(ASC|DESC)\s*$", "", c.strip(), flags=re.I)
                      for c in order.split(",") if c.strip()]
        define: dict[str, str] = {}
        t = Translator()
        for piece in t._split_args(dm.group(1)):
            dmm = re.match(r"^\s*([A-Za-z_]\w*)\s+AS\s+(.+)$", piece.strip(),
                           re.I | re.S)
            if not dmm:
                raise errors.syntax_error(f"bad DEFINE entry: {piece[:40]}")
            define[dmm.group(1).upper()] = t.translate_expr(dmm.group(2).strip())
        # r13: SUBSET union symbols (SQL:2016) — `SUBSET S = (A, B),
        # T = (C)` between PATTERN and DEFINE; usable as a measure
        # qualifier and in AFTER MATCH SKIP TO (operator validates).
        # r14 (ADVICE): the clause can only appear between PATTERN's
        # closing paren and DEFINE, so search ONLY that slice — a bare
        # identifier 'subset' earlier (a measure alias, a column in
        # AFTER MATCH SKIP) must not trip the parser.
        subsets: dict[str, list[str]] = {}
        sub_region = body[pclose + 1:dm.start()]
        sub_m = re.search(r"\bSUBSET\b(.*)", sub_region, re.I | re.S)
        if sub_m:
            for piece in t._split_args(sub_m.group(1)):
                smm = re.match(r"^\s*([A-Za-z_]\w*)\s*=\s*\((.*)\)\s*$",
                               piece.strip(), re.S)
                if not smm:
                    raise errors.syntax_error(
                        f"bad SUBSET entry: {piece[:40]}")
                subsets[smm.group(1).upper()] = [
                    x.strip() for x in smm.group(2).split(",") if x.strip()]
        # measures -> operator output columns
        sel = [part_cols[0], "match_number", "n_rows"]
        renames: list[str] = []
        measure_cols: list[str] = []
        count_cols: list[str] = []
        all_rows_measures: list[tuple] = []
        symbol_measures: list[tuple] = []  # (fn, sym, col, out, final)
        _MEASURE_RE = re.compile(
            r"^\s*(?:(FINAL|RUNNING)\s+)?(FIRST|LAST|COUNT|MATCH_NUMBER)"
            r"\s*\(\s*(?:([A-Za-z_]\w*)\s*\.\s*)?(\*|[\w\"$]*)\s*\)"
            r"\s+AS\s+([A-Za-z_]\w*)\s*$", re.I)
        if measures:
            for piece in t._split_args(measures):
                mm = _MEASURE_RE.match(piece.strip())
                if not mm:
                    raise errors.syntax_error(
                        "MATCH_RECOGNIZE MEASURES supports [FINAL|RUNNING] "
                        "FIRST(col)/LAST(col)/COUNT(*)/MATCH_NUMBER() and "
                        "symbol-qualified FIRST/LAST/COUNT(SYM.col|SYM.*): "
                        f"{piece[:40]}")
                mode, fn, qual, arg, out = (
                    mm.group(1), mm.group(2).upper(), mm.group(3),
                    mm.group(4).strip('"'), mm.group(5))
                if qual is not None:
                    # r11: symbol-qualified measure — over the rows
                    # mapped to the symbol (FIRST/LAST/COUNT only)
                    if fn == "MATCH_NUMBER":
                        raise errors.syntax_error(
                            "MATCH_NUMBER() takes no symbol qualifier")
                    final = (mode or
                             ("RUNNING" if all_rows else "FINAL")
                             ).upper() == "FINAL"
                    symbol_measures.append((fn, qual, arg, out, final))
                    if not all_rows:
                        # ONE ROW: the kernel emits `out` directly; list
                        # it in the projection (ALL ROWS output already
                        # carries every measure column)
                        renames.append(out)
                    continue
                if all_rows:
                    # r10: ALL ROWS PER MATCH measures — RUNNING default
                    # (SQL:2016), FINAL via the explicit keyword
                    final = (mode or "RUNNING").upper() == "FINAL"
                    all_rows_measures.append((fn, arg, out, final))
                elif fn == "COUNT" and arg in ("", "*"):
                    renames.append(f"n_rows AS {out}")
                elif fn == "COUNT":
                    # r11: COUNT(col) skips NULLs — routed to the
                    # operator's count_cols output, not n_rows
                    col = arg.lower()
                    if col not in [c.lower() for c in count_cols]:
                        count_cols.append(arg)
                    renames.append(f"{col}_count AS {out}")
                elif fn == "MATCH_NUMBER":
                    renames.append(f"match_number AS {out}")
                else:
                    col = arg.lower()
                    if col not in [c.lower() for c in measure_cols]:
                        measure_cols.append(arg)
                    renames.append(f"{col}_{fn.lower()} AS {out}")
        src_df = self.query_df(f"SELECT * FROM {m.group(1)}", ctx)
        from .operators.match_recognize import match_recognize as _mr

        # the operator indexes df.schema by exact name; resolve the
        # SQL-typed identifiers onto the DataFrame's actual casing
        actual = {c.lower(): c for c in src_df.columns}

        def _col(name: str) -> str:
            got = actual.get(name.lower().strip('"'))
            if got is None:
                raise errors.object_not_found(
                    f"column {name} in MATCH_RECOGNIZE input")
            return got

        arm = [(fn, _col(arg) if fn in ("FIRST", "LAST")
                or (fn == "COUNT" and arg not in ("", "*")) else arg,
                out, fin)
               for fn, arg, out, fin in all_rows_measures]
        sym_ms = [(fn, sym, _col(arg) if arg not in ("", "*") else arg,
                   out, fin)
                  for fn, sym, arg, out, fin in symbol_measures]
        out_df = _mr(src_df, _col(part_cols[0]), [_col(c) for c in order_cols],
                     define, pattern_text.strip(),
                     [_col(c) for c in measure_cols] or None,
                     all_rows=all_rows, after_match=after_match,
                     all_rows_measures=arm or None,
                     count_cols=[_col(c) for c in count_cols] or None,
                     skip_to_symbol=skip_to_symbol,
                     symbol_measures=sym_ms or None,
                     subsets=subsets or None)
        if renames:
            # a measure alias may equal a base output column (e.g.
            # MATCH_NUMBER() AS match_number) — drop the shadowed base
            # column or selectExpr would emit an ambiguous duplicate
            targets = {re.split(r"\s+AS\s+", r, flags=re.I)[-1]
                       .strip().lower() for r in renames}
            sel = [c for c in sel if c.lower() not in targets]
            out_df = out_df.selectExpr(*sel, *renames)
        view = "__match_recognize_" + uuid.uuid4().hex[:10]
        out_df.createOrReplaceTempView(view)
        self._statement_views().append((None, None, view))
        return sql[:m.start()] + f"FROM {view}{alias}" + tail

    def query_df(self, sql: str, ctx: SessionContext | None = None,
                 bindings: dict | None = None) -> DataFrame:
        """Translate + resolve a SELECT and return the (lazy) DataFrame.
        Outside a statement it is its own, whose pins end once the plan
        is analyzed (docs/DESIGN.md, "Reads pin their version")."""
        ctx = ctx or SessionContext()
        sql = bindmod.apply_bindings(sql, bindings)
        if getattr(self._tt_local, "in_statement", False):
            return self.spark.sql(self._query_sql(sql, ctx))
        with self._statement_scope():
            return self.spark.sql(self._query_sql(sql, ctx))

    def _query_sql(self, sql: str, ctx: SessionContext) -> str:
        """The Spark SQL text of a Snowflake SELECT: rewritten,
        translated and name-resolved."""
        sql = self._rewrite_match_recognize(sql, ctx)
        sql = self._rewrite_result_scan(sql, ctx)
        sql = self._rewrite_nextval(sql, ctx)
        sql = self._rewrite_context_fns(sql, ctx)
        sql = self._substitute_variables(sql, ctx)
        sql = self._rewrite_get_ddl(sql, ctx)
        sql = self._rewrite_system_fns(sql, ctx)
        sql = self._rewrite_pivot_any(sql, ctx)
        sql = self._expand_udfs(sql, ctx)
        translated = self.translator.translate(sql)
        if "$" in translated:
            translated = _STREAM_META_RE.sub(
                lambda m: f"`METADATA${m.group(1).upper()}`", translated)
        return self._resolve_names(translated, ctx)

    def describe_result(self, sql: str, ctx: SessionContext | None = None,
                        bindings: dict | None = None) -> Result:
        """Schema-only preparation (REST describeOnly) with NO side
        effects: seq.NEXTVAL does not reserve a sequence block (the
        rewrite substitutes a schema-identical zero-based expression),
        and the read pins taken while resolving the plan are released
        when it returns (r6 advice)."""
        ctx = ctx or SessionContext()
        prev_flag = getattr(self._tt_local, "describe_only", False)
        self._tt_local.describe_only = True
        try:
            with self._statement_scope():
                df = self.query_df(sql, ctx, bindings)
                # materialize the schema (and the empty rowset) while the
                # pins still hold the version dirs alive
                return Result.from_dataframe(df.limit(0))
        finally:
            self._tt_local.describe_only = prev_flag

    _GET_DDL_RE = re.compile(
        r"\bGET_DDL\s*\(\s*'(\w+)'\s*,\s*'([\w.\"$]+)'\s*\)", re.I)

    def _rewrite_get_ddl(self, sql: str, ctx: SessionContext) -> str:
        """GET_DDL('<kind>', 'name') -> the object's reconstructed
        CREATE statement as a string literal (resolved at rewrite time
        against the catalog, like Snowflake's server-side evaluation)."""
        if "GET_DDL" not in sql.upper():
            return sql

        def _ddl_text(kind: str, name: str) -> str:
            kind = kind.upper().replace("_", " ")
            if kind == "POLICY":
                kind = "MASKING POLICY"
            if kind == "TABLE":
                tm = self.catalog.get_table(name, ctx.database, ctx.schema)
                cols = []
                for c in tm.columns:
                    d = f"{c.name} {c.sf_type}"
                    if not c.nullable:
                        d += " NOT NULL"
                    if c.default is not None:
                        d += f" DEFAULT {c.default}"
                    if c.primary_key:
                        d += " PRIMARY KEY"
                    cols.append(d)
                ddl = f"CREATE OR REPLACE TABLE {tm.name} (\n\t" + ",\n\t".join(cols) + "\n)"
                if tm.clustering_key:
                    ddl += f" CLUSTER BY ({tm.clustering_key})"
                return ddl + ";"
            if hasattr(OBJECT_KINDS.get(kind), "ddl"):
                return self.catalog.get(kind, name, ctx.database, ctx.schema).ddl()
            raise errors.invalid_parameter(f"GET_DDL: unsupported object type {kind}")

        return self._GET_DDL_RE.sub(
            lambda m: m.group(0) if _inside_string(sql, m.start())
            else "'" + _ddl_text(m.group(1), m.group(2)).replace("'", "''") + "'",
            sql,
        )

    _PIVOT_ANY_RE = re.compile(
        r"FROM\s+([\w.\"$]+)\s+PIVOT\s*\(\s*\w+\s*\([\w.\"$\s]+\)\s+FOR\s+"
        r"([\w\"$]+)\s+IN\s*\(\s*(ANY)\s*\)\s*\)", re.I)

    def _rewrite_pivot_any(self, sql: str, ctx: SessionContext) -> str:
        """Snowflake dynamic pivot — ``PIVOT(... FOR col IN (ANY))``:
        the IN list is resolved at plan time from the source's distinct
        values (sorted, capped), exactly how Spark's own DataFrame
        ``pivot(col)`` resolves dynamic columns. Driver-side work is
        one tiny dimension list by contract. Restricted to the
        ``FROM <table> PIVOT(...)`` shape."""
        if "PIVOT" not in sql.upper() or "ANY" not in sql.upper():
            return sql
        m = self._PIVOT_ANY_RE.search(sql)
        if not m:
            return sql
        vals = [
            r[0]
            for r in self.query_df(
                f"SELECT DISTINCT {m.group(2)} FROM {m.group(1)} ORDER BY 1",
                ctx,
            ).take(1000)
            if r[0] is not None
        ]
        # sql_literal: DATE/TIMESTAMP pivot values must render as typed
        # literals, not bare tokens (2024-01-15 is integer arithmetic)
        lits = ", ".join(sql_literal(v) for v in vals)
        # replace only the ANY token inside this match
        any_start = m.start(3)
        return sql[:any_start] + lits + sql[m.end(3):]

    _CLUSTERING_INFO_RE = re.compile(
        r"SYSTEM\$CLUSTERING_INFORMATION\s*\(\s*'([\w.\"$]+)'\s*\)", re.I)

    def _rewrite_system_fns(self, sql: str, ctx: SessionContext) -> str:
        """SYSTEM$CLUSTERING_INFORMATION('t') -> JSON string literal
        built from catalog + physical layout (file count of the live
        version = micro-partition count analog)."""
        if "SYSTEM$CLUSTERING_INFORMATION" not in sql.upper():
            return sql

        def _info(name: str) -> str:
            import json as _json

            tm = self.catalog.get_table(name, ctx.database, ctx.schema)
            n_files = 0
            try:
                n_files = sum(
                    1 for f in os.listdir(tm.version_path())
                    if f.endswith(".parquet"))
            except OSError:
                pass
            return _json.dumps({
                "cluster_by_keys": f"LINEAR({tm.clustering_key})"
                if tm.clustering_key else None,
                "total_partition_count": n_files,
                "notes": "partition = parquet file of the live version; "
                         "rows are co-located on the clustering key at write",
            })

        return self._CLUSTERING_INFO_RE.sub(
            lambda m: m.group(0) if _inside_string(sql, m.start())
            else "'" + _info(m.group(1)).replace("'", "''") + "'", sql)

    # context functions (beyond reference: the reference accepts
    # ACCOUNT_NAME/LOGIN_NAME in the login body — server/types/types.go:16-17
    # — but exposes no context functions). Parenthesized forms for all;
    # CURRENT_USER/CURRENT_ROLE additionally accept the bare ANSI form,
    # matching Snowflake's "can be called without parentheses" list.
    _CONTEXT_FN_RE = re.compile(
        r"\b(CURRENT_(?:USER|ROLE|WAREHOUSE|DATABASE|SCHEMA|ACCOUNT_NAME|"
        r"ACCOUNT|REGION|VERSION|CLIENT|SESSION|TRANSACTION|"
        r"AVAILABLE_ROLES|IP_ADDRESS))\s*\(\s*\)"
        r"|\b(CURRENT_(?:USER|ROLE))\b(?!\s*\()",
        re.I)

    def _rewrite_context_fns(self, sql: str, ctx: SessionContext) -> str:
        """CURRENT_USER()/CURRENT_ROLE()/CURRENT_DATABASE()/... ->
        session-identity string literals. Evaluated at query time (so a
        view body sees the QUERYING session, like Snowflake), skipped
        inside string literals. CURRENT_TRANSACTION() is NULL outside an
        open transaction."""
        if "CURRENT_" not in sql.upper():
            return sql

        def _value(name: str) -> str:
            if name == "CURRENT_USER":
                return sql_literal(ctx.user)
            if name == "CURRENT_ROLE":
                return sql_literal(ctx.role)
            if name == "CURRENT_WAREHOUSE":
                return sql_literal(ctx.warehouse) if ctx.warehouse else "NULL"
            if name == "CURRENT_DATABASE":
                return sql_literal(ctx.database)
            if name == "CURRENT_SCHEMA":
                return sql_literal(ctx.schema)
            if name in ("CURRENT_ACCOUNT", "CURRENT_ACCOUNT_NAME"):
                return sql_literal(ctx.account)
            if name == "CURRENT_REGION":
                return sql_literal(config.DEFAULT_REGION)
            if name == "CURRENT_VERSION":
                return sql_literal(config.EMULATOR_VERSION)
            if name == "CURRENT_CLIENT":
                app = ctx.parameters.get("CLIENT_APP_ID") or "SnowflakeEmulatorSpark"
                ver = ctx.parameters.get("CLIENT_APP_VERSION") or config.EMULATOR_VERSION
                return sql_literal(f"{app} {ver}")
            if name == "CURRENT_SESSION":
                sid = ctx.session_id or getattr(
                    getattr(ctx, "_session", None), "id", None)
                return sql_literal(str(sid)) if sid else "NULL"
            if name == "CURRENT_TRANSACTION":
                txid = getattr(ctx, "_open_tx_id", None)
                return sql_literal(str(txid)) if txid else "NULL"
            if name == "CURRENT_AVAILABLE_ROLES":
                import json as _json

                return sql_literal(_json.dumps([ctx.role]))
            if name == "CURRENT_IP_ADDRESS":
                return sql_literal("127.0.0.1")
            return "NULL"

        def _sub(m: re.Match) -> str:
            if _inside_string(sql, m.start()):
                return m.group(0)
            return _value((m.group(1) or m.group(2)).upper())

        return self._CONTEXT_FN_RE.sub(_sub, sql)

    _GETVARIABLE_RE = re.compile(r"\bGETVARIABLE\s*\(\s*'([^']*)'\s*\)", re.I)

    _SESSION_VAR_RE = re.compile(r"(?<![\w$])\$([A-Za-z_]\w*)")

    def _substitute_variables(self, sql: str, ctx: SessionContext) -> str:
        """$var -> literal for SET session variables. Name must start
        with a letter ($1 stage positionals untouched); the lookbehind
        keeps METADATA$ACTION-style identifiers intact; unknown names
        pass through (Spark raises its own error)."""
        variables = getattr(ctx, "variables", None)
        if "GETVARIABLE" in sql.upper():
            # GETVARIABLE('NAME') -> literal value, NULL when unset
            # (Snowflake returns NULL for an unset variable name)
            sql = self._GETVARIABLE_RE.sub(
                lambda m: m.group(0) if _inside_string(sql, m.start())
                else sql_literal((variables or {}).get(m.group(1).upper()))
                if (variables or {}).get(m.group(1).upper()) is not None
                else "NULL",
                sql)
        if not variables or "$" not in sql:
            return sql

        # substitution applies only in identifier/expression positions:
        # a $var inside a quoted string literal ('cost: $total') stays
        # verbatim, matching Snowflake
        return self._SESSION_VAR_RE.sub(
            lambda m: sql_literal(variables[m.group(1).upper()])
            if m.group(1).upper() in variables
            and not _inside_string(sql, m.start()) else m.group(0),
            sql,
        )

    def _qualify(self, name: str, ctx: SessionContext) -> str:
        """Fully-qualified object name for grant records (db.schema.name
        for schema-level objects; bare upper name otherwise)."""
        parts = [p.strip('"').upper() for p in name.split(".")]
        if len(parts) >= 3:
            return ".".join(parts[:3])
        if len(parts) == 2:
            return f"{ctx.database}.{parts[0]}.{parts[1]}"
        return f"{ctx.database}.{ctx.schema}.{parts[0]}"

    # ------------------------------------------------------------------
    # SQL UDF expansion (beyond reference): call sites are inlined by
    # textual macro substitution BEFORE translation — same strategy as
    # Snowflake's own SQL-UDF inlining into the calling plan, so the
    # expanded expression runs entirely JVM-side with zero per-row
    # dispatch. Bodies may call other UDFs (bounded depth).
    # ------------------------------------------------------------------

    def _expand_udfs(self, sql: str, ctx: SessionContext) -> str:
        functions = self.catalog.objects["FUNCTION"]
        if not functions:
            return sql
        by_name: dict[str, object] = {}
        py_names: dict[str, str] = {}
        for (db, sch, fn), fm in list(functions.items()):
            if db != ctx.database:
                continue
            if fm.language != "SQL":
                # PYTHON UDFs resolve as registered Spark UDFs under
                # their mangled session-wide name: rewrite call sites
                # (same binding rules as SQL UDFs)
                py_names[f"{sch}.{fn}"] = fm.spark_name
                py_names[f"{db}.{sch}.{fn}"] = fm.spark_name
                if sch == ctx.schema:
                    py_names[fn] = fm.spark_name
                continue
            # qualified spellings always resolve; the BARE name binds
            # only to the session schema's function (a same-named UDF
            # in another schema must not be picked arbitrarily)
            by_name[f"{sch}.{fn}"] = fm
            by_name[f"{db}.{sch}.{fn}"] = fm
            if sch == ctx.schema:
                by_name[fn] = fm
        # longest spelling first so DB.SCH.F is not half-matched as F
        for spelled in sorted(py_names, key=len, reverse=True):
            pat = re.compile(rf"(?<![\w.]){re.escape(spelled)}\s*\(", re.I)
            out, i = [], 0
            for m in pat.finditer(sql):
                if _inside_string(sql, m.start()):
                    continue
                out.append(sql[i:m.start()])
                out.append(f"{py_names[spelled]}(")
                i = m.end()
            out.append(sql[i:])
            sql = "".join(out)
        if not by_name:
            return sql
        tr = self.translator
        from .functions.typemap import snowflake_to_spark_ddl

        for _ in range(10):  # nested-UDF bound
            changed = False
            for fn, fm in by_name.items():
                if fm.table_columns is not None:
                    # UDTF: TABLE(f(args)) -> derived table; declared
                    # output names/types applied via column-list alias
                    pat = re.compile(
                        rf"\bTABLE\s*\(\s*{re.escape(fn)}\s*\(", re.I)
                else:
                    pat = re.compile(rf"(?<![\w.]){re.escape(fn)}\s*\(", re.I)
                i = 0
                while True:
                    m = pat.search(sql, i)
                    if not m:
                        break
                    if _inside_string(sql, m.start()):
                        i = m.end()
                        continue
                    open_idx = m.end() - 1
                    close_idx = tr._match_paren(sql, open_idx)
                    args = tr._split_args(sql[open_idx + 1:close_idx])
                    if len(args) != len(fm.arg_names) and not (
                        len(fm.arg_names) == 0 and args == [""]
                    ):
                        i = close_idx + 1
                        continue
                    # Two-phase substitution: param names -> unique
                    # placeholders first, then placeholders -> argument
                    # text. A single sequential pass would let a later
                    # parameter name capture text injected by an earlier
                    # argument (udf(rate, 0.07) turning the `rate`
                    # column into 0.07). String literals in the body are
                    # never rewritten.
                    body = fm.body
                    for k, an in enumerate(fm.arg_names):
                        pat_arg = re.compile(
                            rf"(?<![\w.]){re.escape(an)}(?![\w])", re.I)
                        out, j = [], 0
                        for am in pat_arg.finditer(body):
                            if _inside_string(body, am.start()):
                                continue
                            out.append(body[j:am.start()])
                            out.append(f"\x00udf_arg{k}\x00")
                            j = am.end()
                        out.append(body[j:])
                        body = "".join(out)
                    for k in range(len(fm.arg_names)):
                        body = body.replace(f"\x00udf_arg{k}\x00",
                                            f"({args[k].strip()})")
                    if fm.table_columns is not None:
                        outer_close = tr._match_paren(sql, sql.index("(", m.start()))
                        # consume the wrapping TABLE( ... ) too
                        names = ", ".join(n for n, _ in fm.table_columns)
                        casts = ", ".join(
                            f"CAST({n} AS {snowflake_to_spark_ddl(t)}) AS {n}"
                            for n, t in fm.table_columns)
                        repl = (f"(SELECT {casts} FROM ({body}) "
                                f"AS __udtf_b({names}))")
                        sql = sql[:m.start()] + repl + sql[outer_close + 1:]
                    else:
                        repl = f"CAST(({body}) AS {snowflake_to_spark_ddl(fm.returns)})"
                        sql = sql[:m.start()] + repl + sql[close_idx + 1:]
                    i = m.start() + len(repl)
                    changed = True
            if not changed:
                break
        return sql

    # ------------------------------------------------------------------
    # time travel (beyond-reference: the immutable version dirs ARE a
    # retention history, so Snowflake's AT() clause maps directly)
    # ------------------------------------------------------------------

    _AT_RE = re.compile(
        r"([A-Za-z_][\w.$]*)\s+(AT|BEFORE)\s*\(\s*"
        r"(VERSION|OFFSET|TIMESTAMP|STATEMENT)\s*=>\s*([^)]+)\)",
        re.I,
    )

    def _resolve_time_travel(self, sql: str, ctx: SessionContext,
                             ctes: dict[str, str]) -> str:
        """Rewrite ``FROM t AT|BEFORE(VERSION => n | OFFSET => -secs |
        TIMESTAMP => 'ts' | STATEMENT => 'qid')`` onto the pinned view
        of the matching immutable version (``_pinned_view``; bound in
        ``ctes`` through the table's CURRENT policies when it is
        governed: Snowflake evaluates
        policies with the querying identity at query time, even against
        historical data). AT picks the newest version
        whose write time is <= the target instant; BEFORE (r11) is
        STRICT — the newest version written before it (Snowflake
        semantics: BEFORE excludes the target statement's changes, AT
        includes them). STATEMENT (r11) resolves the instant from the
        query-history entry: its END for AT, its START for BEFORE.
        Version-dir mtimes — the write moment — are the history
        timeline; the window is bounded by version GC (keep=3 by
        default), mirroring Snowflake's bounded retention."""

        def repl(m: re.Match) -> str:
            name, mode, kind, value = (m.group(1), m.group(2).upper(),
                                       m.group(3).upper(), m.group(4).strip())
            try:
                tm = self.catalog.get_table(name, ctx.database, ctx.schema)
            except errors.SnowflakeError:
                return m.group(0)  # not a catalog table: leave untouched
            version = self._pick_version(tm, kind, value,
                                         before=(mode == "BEFORE"))
            return self._governed_ref(tm, self._pinned_view(tm, version), ctx, ctes)

        return self._AT_RE.sub(repl, sql)

    def _pick_version(self, tm, kind: str, value: str,
                      before: bool = False) -> int:
        versions = self.catalog.versions(tm)
        if not versions:
            raise errors.object_not_found(".".join((tm.database, tm.schema, tm.name)))
        if kind == "VERSION":
            v = int(value.strip().strip("'\""))
            if before:
                # BEFORE(VERSION => n): newest retained version < n
                prior = [x for x in versions if x < v]
                if not prior:
                    raise errors.time_travel_unavailable(
                        tm.name, f" (no version before v{v}; retained: {versions})")
                return prior[-1]
            if v not in versions:
                raise errors.time_travel_unavailable(
                    tm.name, f" (version {v} requested; retained: {versions})")
            return v
        if kind == "OFFSET":
            target = time.time() + float(value)  # value is negative seconds
        elif kind == "STATEMENT":
            # r11: resolve the instant from query history — the query's
            # END for AT (its changes included), its START for BEFORE
            # (its changes excluded; Snowflake semantics)
            qid = value.strip().strip("'\"")
            st = self.statements.get(qid)
            if st is None:
                raise errors.execution_error(
                    f"statement {qid} not found in query history")
            # the precise end instant: a padded one would include a
            # different statement's version written just after it
            target = st.start if before else (st.end or time.time())
        else:  # TIMESTAMP
            from datetime import datetime, timezone

            raw = value.strip().strip("'\"")
            dt = datetime.fromisoformat(raw)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            target = dt.timestamp()
        if before and kind != "STATEMENT":
            eligible = [
                v for v in versions
                if os.path.getmtime(os.path.join(tm.location, f"v{v}")) < target
            ]
        else:
            # AT is inclusive; BEFORE(STATEMENT) already uses the strict
            # start instant, and a version written at EXACTLY the start
            # belongs to the statement itself -> still excluded
            cmp_target = target - 1e-9 if before else target
            eligible = [
                v for v in versions
                if os.path.getmtime(os.path.join(tm.location, f"v{v}")) <= cmp_target
            ]
        if not eligible:
            raise errors.time_travel_unavailable(
                tm.name, f" (earliest retained version is v{versions[0]})")
        return eligible[-1]

    # ------------------------------------------------------------------
    # routing
    # ------------------------------------------------------------------

    def _dispatch(self, sql: str, ctx: SessionContext, bindings: dict | None) -> Result:
        sql = sql.strip().rstrip(";").strip()
        if bindings:
            sql = bindmod.apply_bindings(sql, bindings)
        cls = classify(sql)
        t = cls.type
        if t == StatementType.QUERY:
            up = sql.upper()
            if up.startswith("SHOW"):
                return self._show(sql, ctx)
            if up.startswith(("DESCRIBE", "DESC ")):
                return self._describe(sql, ctx)
            if up.startswith("EXPLAIN"):
                return self._explain(sql, ctx)
            key = self._query_cache_key(sql, ctx)
            # read BEFORE the query runs, so that a write committing
            # while it runs invalidates the entry it stores
            stamp = self.catalog.mutation
            if key is not None:
                hit = self._query_cache.get(key)
                if hit is not None and hit[0] == stamp:
                    try:  # racing LRU eviction on another thread is fine
                        self._query_cache.move_to_end(key)
                    except KeyError:
                        pass
                    # shallow copy: rows are shared (that IS the cache
                    # win) but each execution keeps its own query id,
                    # so RESULT_SCAN('<old id>') semantics hold
                    import copy

                    return copy.copy(hit[1])
            res = Result.from_dataframe(self.query_df(sql, ctx))
            if key is not None:
                self._query_cache[key] = (stamp, res)
                while len(self._query_cache) > self._query_cache_cap:
                    self._query_cache.popitem(last=False)
            return res
        if t == StatementType.USE:
            return self._use(sql, ctx)
        if t in (StatementType.DDL_CREATE, StatementType.DDL_DROP, StatementType.DDL_ALTER):
            return self._ddl(sql, ctx)
        if t == StatementType.COPY:
            from .operators.copy_into import CopyProcessor

            return CopyProcessor(self.spark, self.catalog).execute(
                sql, ctx, query_df=self.query_df)
        if t == StatementType.MERGE:
            from .operators.merge_into import MergeProcessor

            return MergeProcessor(self).execute(self._dml_rewrites(sql, ctx), ctx)
        if t == StatementType.TRANSACTION:
            return self._transaction(sql)
        m = _EXECUTE_TASK_RE.match(sql)
        if m:
            task = self.catalog.get("TASK", m.group(1), ctx.database, ctx.schema)
            return self._dispatch(task.sql_text, ctx, None)
        return self._dml(sql, ctx)

    # ------------------------------------------------------------------
    # name resolution
    # ------------------------------------------------------------------

    def _resolve_names(self, sql: str, ctx: SessionContext) -> str:
        """Resolve a translated statement's relation names.

        Qualified ``DB.SCHEMA.NAME`` / ``SCHEMA.NAME`` references are
        rewritten onto what the catalog object resolves to (see
        ``_relation_ref``). Bare names of the session's current schema
        are bound inside the statement: it becomes ``WITH `T` AS
        (SELECT * FROM <ref>), ... (<statement>)``, together with any
        per-reader projection a reference needs. A CTE belongs to its
        statement, so sessions with different schemas or roles never
        see each other's bindings; a user's own ``WITH T`` shadows the
        binding, and ``T.col`` qualifiers keep working.

        Single identifier-aware pass: string literals, quoted
        identifiers and comments are never rewritten, and each
        identifier chain is probed against the catalog with O(1) dict
        lookups — O(len(sql)) per statement regardless of catalog size."""
        ctes: dict[str, str] = {}
        sql = self._resolve_time_travel(sql, ctx, ctes)
        bare: set[str] = set()
        # bare names read as relations (after FROM or JOIN, or a comma
        # of a FROM clause), for the streams a DML consumes; the
        # previous token and each paren level's clause keyword tell them
        relations: set[str] = set()
        prev, clause = "", [""]

        def at_relation() -> bool:
            return prev in ("FROM", "JOIN") or (prev == "," and clause[-1] == "FROM")

        out: list[str] = []
        i, n = 0, len(sql)
        while i < n:
            c = sql[i]
            if c == "'":  # string literal, '' escapes
                j = i + 1
                while j < n:
                    if sql[j] == "'":
                        if j + 1 < n and sql[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                out.append(sql[i:j + 1])
                i = j + 1
                continue
            if c == '"':  # quoted identifier: kept verbatim, bound when bare
                j = sql.find('"', i + 1)
                j = n - 1 if j < 0 else j
                if sql[i - 1:i] != "." and sql[j + 1:j + 2] != ".":
                    bare.add(sql[i + 1:j])
                    if at_relation():
                        relations.add(sql[i + 1:j])
                prev = '"'
                out.append(sql[i:j + 1])
                i = j + 1
                continue
            if sql.startswith("--", i):
                j = sql.find("\n", i)
                j = n if j < 0 else j
                out.append(sql[i:j])
                i = j
                continue
            if sql.startswith("/*", i):
                j = sql.find("*/", i)
                j = n - 2 if j < 0 else j
                out.append(sql[i:j + 2])
                i = j + 2
                continue
            if c.isalpha() or c == "_":
                # read an identifier chain ident(.ident)*
                parts: list[tuple[int, int]] = []
                j = i
                while True:
                    k = j
                    while k < n and (sql[k].isalnum() or sql[k] in "_$"):
                        k += 1
                    parts.append((j, k))
                    if k + 1 < n and sql[k] == "." and (sql[k + 1].isalpha() or sql[k + 1] == "_"):
                        j = k + 1
                    else:
                        j = k
                        break
                ids = [sql[a:b].upper() for a, b in parts]
                ref = None
                if len(ids) >= 3:
                    key, tail = (ids[0], ids[1], ids[2]), parts[2][1]
                    ref = self._relation_ref(key, ctx, ctes)
                if ref is None and len(ids) >= 2:
                    key, tail = (ctx.database, ids[0], ids[1]), parts[1][1]
                    ref = self._relation_ref(key, ctx, ctes)
                if ref is not None:
                    self._note_stream_read(key)
                if ref is None and len(ids) >= 2 and "INFORMATION_SCHEMA" in ids[:2]:
                    if ids[0] == "INFORMATION_SCHEMA" and ids[1] in self._INFO_SCHEMA_VIEWS:
                        ref = self._register_info_schema_view(ids[1], ctx.database)
                        tail = parts[1][1]
                    elif (len(ids) >= 3 and ids[1] == "INFORMATION_SCHEMA"
                          and ids[2] in self._INFO_SCHEMA_VIEWS):
                        ref = self._register_info_schema_view(ids[2], ids[0])
                        tail = parts[2][1]
                if ref is not None:
                    out.append(ref + sql[tail:j])
                else:
                    if len(ids) == 1 and sql[i - 1:i] != ".":
                        bare.add(ids[0])
                        if at_relation():
                            relations.add(ids[0])
                    out.append(sql[i:j])
                if len(ids) == 1 and ids[0] in _CLAUSE_WORDS:
                    clause[-1] = ids[0]
                prev = ids[-1]
                i = j
                continue
            if c == "(":
                clause.append("")
            elif c == ")" and len(clause) > 1:
                clause.pop()
            if not c.isspace():
                prev = c
            out.append(c)
            i += 1
        self.sync_namespace_views(bare, ctx, ctes)
        for name in relations:
            self._note_stream_read((ctx.database, ctx.schema, name))
        resolved = "".join(out)
        if not ctes:
            return resolved
        bound = "WITH " + ", ".join(f"{name} AS ({body})" for name, body in ctes.items())
        if _LEADING_WITH_RE.match(resolved):
            # the statement's own CTEs stay inside, so they shadow the
            # bindings; the newline keeps a trailing -- comment off the
            # closing paren. (Without parens Spark analyzes ~2 ms faster.)
            return f"{bound} (\n{resolved}\n)"
        return f"{bound}\n{resolved}"

    def _resolve_subqueries(self, expr: str, ctx: SessionContext) -> str:
        """Resolve the relation names of each top-level ``(SELECT ...)`` /
        ``(WITH ...)`` subquery of translated SQL text that is not run
        through ``_resolve_names`` as a whole: a DML condition or value,
        the SELECT of operators/merge_into.py, a policy projection. Each
        subquery binds its own bare names."""
        from .plans.translator import match_paren

        out: list[str] = []
        pos = 0
        for m in _SUBQUERY_RE.finditer(expr):
            if m.start() < pos or _inside_string(expr, m.start()):
                continue
            close = match_paren(expr, m.start())
            if close < 0:
                break
            out += [expr[pos:m.start() + 1],
                    self._resolve_names(expr[m.start() + 1:close], ctx)]
            pos = close
        return "".join(out) + expr[pos:]

    def _dml_expr(self, text: str, ctx: SessionContext) -> str:
        """Translate a DML condition or value expression and resolve the
        relation names of its subqueries."""
        return self._resolve_subqueries(self.translator.translate_expr(text), ctx)

    def sync_namespace_views(self, names: set[str], ctx: SessionContext,
                             ctes: dict[str, str]) -> None:
        """Bind a statement's bare ``names`` (normalized identifiers)
        that name a table, stream or view of ``ctx``'s current schema:
        each becomes ``NAME AS (SELECT * FROM <ref>)`` in ``ctes``,
        <ref> being what the qualified name resolves to. No bare name is
        ever registered as a Spark temp view. (perfbench's tracing times
        this step under this name.)"""
        for name in names:
            try:
                ref = self._relation_ref((ctx.database, ctx.schema, name), ctx, ctes)
            except (errors.SnowflakeError, AnalysisException):
                # a broken view or stale stream: an identifier that only
                # shares its name (a column, an alias) must still work,
                # and a real reference fails as not-found
                continue
            if ref is not None:
                ctes["`" + name.replace("`", "``") + "`"] = f"SELECT * FROM {ref}"

    def _note_stream_read(self, key: tuple[str, str, str]) -> None:
        """Record that the statement reads ``key`` when it is a stream
        and a ``reading_streams`` block is collecting on this thread."""
        reading = getattr(self._tt_local, "streams", None)
        sm = self.catalog.objects["STREAM"].get(key)
        if reading is not None and sm is not None:
            reading.append(sm)

    def _relation_ref(self, key: tuple[str, str, str], ctx: SessionContext,
                      ctes: dict[str, str]) -> str | None:
        """What the table, stream or view ``key`` resolves to inside a
        statement, or None when ``key`` names none of them: the view of
        the table version the statement pinned (``_pinned_view``), or a
        name bound in ``ctes`` when the read can depend on the reader
        (views, governed tables and streams)."""
        tm = self.catalog.tables.get(key)
        if tm is not None:
            return self._governed_ref(tm, self._pinned_view(tm), ctx, ctes)
        sm = self.catalog.objects["STREAM"].get(key)
        if sm is not None:
            return self._stream_ref(sm, ctx, ctes)
        vm = self.catalog.objects["VIEW"].get(key)
        if vm is not None:
            # a view's plan can depend on its reader (context functions,
            # governed tables, views under it that do): never shared
            ctes[vm.physical] = self._view_sql(vm, ctx)
            return vm.physical
        return None

    def _pinned_view(self, tm, version: int | None = None) -> str:
        """The temp view of ``version`` of ``tm`` (None: the live one),
        pinned until the statement ends so that GC cannot delete its
        files under the read: how every table read, live, AT/BEFORE or
        stream, binds its version."""
        v = self.catalog.pin_version_for_read(tm, version)
        self._statement_views().append((tm, v, None))
        return self.catalog.version_view(tm, v)

    def _views_in_progress(self) -> set:
        s = getattr(self._views_in_progress_tl, "s", None)
        if s is None:
            s = set()
            self._views_in_progress_tl.s = s
        return s

    # ------------------------------------------------------------------
    # dynamic data masking (beyond reference; Snowflake masking policies)
    # ------------------------------------------------------------------

    def _governed_ref(self, tm, src: str, ctx: SessionContext,
                      ctes: dict[str, str], passthrough: tuple[str, ...] = ()) -> str:
        """Name under which a read of ``src`` — a relation carrying
        ``tm``'s columns, plus ``passthrough`` ones such as a stream's
        METADATA$ columns — honors ``tm``'s policies: ``src`` itself
        when none is attached, else a CTE bound in ``ctes``, so the
        projection belongs to the reading statement. Each masked column
        is replaced by its policy body with the column substituted for
        the policy argument, context functions evaluated with the
        QUERYING session's identity (Snowflake evaluation model). A row
        access policy filters over the cleartext values (Snowflake: row
        policies see unmasked data). The projection stays Spark SQL —
        JVM-side, zero per-row Python."""
        if not (tm.row_access_policy or any(c.masking_policy for c in tm.columns)):
            return src
        exprs = []
        for c in tm.columns:
            if not c.masking_policy:
                exprs.append(f"`{c.name}`")
                continue
            pm = self.catalog.get("MASKING POLICY", c.masking_policy, tm.database, tm.schema)
            body = re.sub(rf"(?<![\w$]){re.escape(pm.arg_name)}(?![\w$])",
                          f"`{c.name}`", pm.body, flags=re.I)
            exprs.append(f"({self._rewrite_context_fns(body, ctx)}) AS `{c.name}`")
        exprs += [f"`{f}`" for f in passthrough]
        sel = f"SELECT {', '.join(exprs)} FROM {src}"
        if tm.row_access_policy:
            rp = self.catalog.get("ROW ACCESS POLICY", tm.row_access_policy,
                                  tm.database, tm.schema)
            pred = rp.body
            for arg, coln in zip(rp.arg_names, tm.row_access_columns):
                pred = re.sub(rf"(?<![\w$]){re.escape(arg)}(?![\w$])",
                              f"`{coln}`", pred, flags=re.I)
            sel += f" WHERE {self._rewrite_context_fns(pred, ctx)}"
        name = src + "__masked"
        # names in a policy body resolve in the table's namespace
        ctes[name] = self._resolve_subqueries(
            self.translator.translate(sel), self._ctx_in(tm.database, tm.schema, ctx))
        return name

    # INFORMATION_SCHEMA (reference parity: its DuckDB backend exposes
    # information_schema.tables, exercised by
    # pkg/contentdata/repository_test.go:69; here the views are built
    # from catalog metadata with Snowflake-style logical names, scoped
    # to the session database like Snowflake's per-DB info schema)
    _INFO_SCHEMA_VIEWS = {"TABLES", "COLUMNS", "SCHEMATA", "DATABASES", *_INFO_SCHEMA_OBJECTS}

    def _register_info_schema_view(self, which: str, db: str) -> str:
        # one registration per database: sessions in different databases
        # never replace each other's view between resolution and analysis
        view = "`" + f"__info_schema_{which.lower()}_{db}".replace("`", "``") + "`"
        state = self.catalog.mutation
        if self._info_schema_cache.get(view) == state:
            return view
        c = self.catalog
        if which == "TABLES":
            # table_type per Snowflake: BASE TABLE (incl. transient,
            # which it flags via is_transient), LOCAL TEMPORARY,
            # EXTERNAL TABLE, VIEW
            _TYPE = {"TEMPORARY": "LOCAL TEMPORARY", "EXTERNAL": "EXTERNAL TABLE"}
            rows = [(tm.database, tm.schema, tm.name,
                     _TYPE.get(tm.kind, "BASE TABLE"),
                     "YES" if tm.kind == "TRANSIENT" else "NO", tm.comment)
                    for tm in c.tables.values() if tm.database == db]
            rows += [(vm.database, vm.schema, vm.name, "VIEW", "NO", vm.comment)
                     for vm in c.list_objects("VIEW", db)]
            schema = ("table_catalog string, table_schema string, table_name string, "
                      "table_type string, is_transient string, comment string")
        elif which == "COLUMNS":
            rows = [(tm.database, tm.schema, tm.name, col.name, i + 1,
                     col.sf_type, "YES" if col.nullable else "NO")
                    for tm in c.tables.values() if tm.database == db
                    for i, col in enumerate(tm.columns)]
            schema = ("table_catalog string, table_schema string, table_name string, "
                      "column_name string, ordinal_position int, data_type string, "
                      "is_nullable string")
        elif which == "SCHEMATA":
            rows = [(d, s) for (d, s) in c.schemas if d == db]
            schema = "catalog_name string, schema_name string"
        elif which in _INFO_SCHEMA_OBJECTS:
            kind, schema, row = _INFO_SCHEMA_OBJECTS[which]
            rows = [(o.database, o.schema, o.name, *row(o))
                    for o in c.list_objects(kind, db)]
        else:  # DATABASES
            rows = [(name, meta.get("comment")) for name, meta in c.databases.items()]
            schema = "database_name string, comment string"
        self.spark.createDataFrame(rows, schema=schema).createOrReplaceTempView(view)
        self._info_schema_cache[view] = state
        return view

    @staticmethod
    def _ctx_in(database: str, schema: str,
                caller_ctx: SessionContext | None) -> SessionContext:
        """A context for ``database.schema`` carrying the identity of
        ``caller_ctx`` (when given)."""
        ctx = SessionContext(database, schema)
        if caller_ctx is not None:
            for f in ("user", "role", "warehouse", "account", "session_id"):
                setattr(ctx, f, getattr(caller_ctx, f, None))
        return ctx

    def _view_sql(self, vm, caller_ctx: SessionContext | None = None) -> str:
        """Spark SQL planning a view's stored SELECT against current
        table versions. The definition binds to the view's own namespace
        (Snowflake semantics); cyclic view references raise instead of
        recursing. Context functions and policies evaluate with the
        CALLER's identity (Snowflake: CURRENT_ROLE() in a view is
        query-time)."""
        key = (vm.database, vm.schema, vm.name)
        if key in self._views_in_progress():
            raise errors.execution_error(f"cyclic view reference involving {vm.name}")
        self._views_in_progress().add(key)
        try:
            sql = self._query_sql(
                vm.sql_text, self._ctx_in(vm.database, vm.schema, caller_ctx))
            if vm.column_names:
                cols = ", ".join(f"`{c}`" for c in vm.column_names)
                sql = f"SELECT * FROM (\n{sql}\n) AS `__v`({cols})"
            return sql
        finally:
            self._views_in_progress().discard(key)

    # the METADATA$ columns of a stream's diff (_stream_ref)
    _STREAM_META_COLS = ("METADATA$ACTION", "METADATA$ISUPDATE", "METADATA$ROW_ID")

    def _stream_ref(self, sm, ctx: SessionContext, ctes: dict[str, str]) -> str:
        """Name a stream is read under: the multiset diff (EXCEPT ALL
        both ways) of its source's pinned live and offset versions with
        Snowflake's METADATA$ columns, bound in ``ctes`` as
        ``sm.physical``. ISUPDATE is always false: without row tracking
        an UPDATE is a DELETE + INSERT pair. The SOURCE table's policies
        apply to the diff, like Snowflake."""
        tm = self.catalog.tables.get(sm.src)
        if tm is None or tm.uid != sm.src_uid:
            raise errors.execution_error(
                f"stream {sm.name} is stale: source table {'.'.join(sm.src)} "
                "was dropped or replaced")
        cur, old = self._pinned_view(tm), self._pinned_view(tm, sm.offset_version)
        row_id = "md5(concat_ws('\\u001F', {}))".format(", ".join(
            f"coalesce(CAST(`{c.name.replace('`', '``')}` AS STRING), '\\u0000')"
            for c in tm.columns))

        def changes(new: str, gone: str, action: str) -> str:
            return (f"SELECT *, '{action}' AS `METADATA$ACTION`, FALSE AS `METADATA$ISUPDATE`, "
                    f"{row_id} AS `METADATA$ROW_ID` "
                    f"FROM (SELECT * FROM {new} EXCEPT ALL SELECT * FROM {gone})")

        ctes[sm.physical] = changes(cur, old, "INSERT") + (
            "" if sm.append_only else " UNION ALL " + changes(old, cur, "DELETE"))
        return self._governed_ref(tm, sm.physical, ctx, ctes, self._STREAM_META_COLS)

    # ------------------------------------------------------------------
    # DDL
    # ------------------------------------------------------------------

    def _key(self, name: str, ctx: SessionContext) -> tuple[str, str, str]:
        return self.catalog.resolve(name, ctx.database, ctx.schema)

    def _create(self, obj, or_replace, if_not_exists=None) -> Result:
        """CREATE [OR REPLACE] <kind> [IF NOT EXISTS] of a schema object
        other than a table; the flags are the statement's matched
        keywords (None: absent)."""
        return self._created(self.catalog.create(
            obj, or_replace=bool(or_replace), if_not_exists=bool(if_not_exists)))

    @staticmethod
    def _created(obj) -> Result:
        kind = "Stage area" if obj.KIND == "STAGE" else obj.KIND.capitalize()
        return Result.status(f"{kind} {obj.name} successfully created.")

    def _drop(self, kind: str, name: str, if_exists: bool, ctx: SessionContext) -> Result:
        """DROP <kind> [IF EXISTS] <name> of any schema object: a table
        kind drops through the table path, where DROP DYNAMIC TABLE and
        DROP MATERIALIZED VIEW refuse a table of another kind; the other
        kinds through ``Catalog.drop``."""
        key = self._key(name, ctx)
        if kind in _TABLE_KINDS:
            found = self.catalog.tables.get(key)
            if found is not None and kind != "TABLE" and found.kind != kind:
                raise errors.execution_error(f"{found.name} is not a {kind.lower()}")
            self.catalog.drop_table(name, ctx.database, ctx.schema, if_exists=if_exists)
        else:
            found = self.catalog.drop(kind, name, ctx.database, ctx.schema, if_exists=if_exists)
        if found is None:
            return Result.status(
                f"Drop statement executed successfully ({key[2]} already dropped).")
        return Result.status(f"{key[2]} successfully dropped.")

    def _ddl(self, sql: str, ctx: SessionContext) -> Result:
        # COPY GRANTS is metadata-only here (grants are unenforced
        # records): accept and strip it anywhere in a CREATE statement
        if re.search(r"\bCOPY\s+GRANTS\b", sql, re.I):
            sql = re.sub(r"\s*\bCOPY\s+GRANTS\b", "", sql, flags=re.I)
        up = sql.upper()
        m = _CREATE_DB_RE.match(sql)
        if m:
            self.catalog.create_database(m.group(3), comment=m.group(4),
                                         if_not_exists=bool(m.group(2)), or_replace=bool(m.group(1)))
            return Result.status(f"Database {m.group(3).upper()} successfully created.")
        m = _DROP_DB_RE.match(sql)
        if m:
            self.catalog.drop_database(m.group(2), if_exists=bool(m.group(1)))
            return Result.status(f"{m.group(2).upper()} successfully dropped.")
        m = _DROP_OBJECT_RE.match(sql)
        if m:
            return self._drop(" ".join(m.group(1).upper().split()), m.group(3),
                              bool(m.group(2)), ctx)
        m = _CREATE_STAGE_RE.match(sql)
        if m:
            key = self._key(m.group(3), ctx)
            directory = os.path.join(self.catalog.base_dir, "_stages", *key)
            res = self._create(StageMeta(*key, directory=directory), m.group(1), m.group(2))
            os.makedirs(directory, exist_ok=True)
            return res
        m = _CREATE_FF_RE.match(sql)
        if m:
            fmt, opts = _parse_ff_options(m.group(4))
            return self._create(FileFormatMeta(*self._key(m.group(3), ctx), fmt, opts),
                                m.group(1), m.group(2))
        m = _CREATE_MASKING_POLICY_RE.match(sql)
        if m:
            return self._create(MaskingPolicyMeta(
                *self._key(m.group(3), ctx), m.group(4).upper(), m.group(5).upper(),
                m.group(6).upper(), m.group(7).rstrip(";").strip()), m.group(1), m.group(2))
        m = _CREATE_ROW_POLICY_RE.match(sql)
        if m:
            names, types = [], []
            for part in m.group(4).split(","):
                bits = part.strip().split(None, 1)
                if len(bits) != 2:
                    raise errors.syntax_error(f"bad policy signature: ({m.group(4)})")
                names.append(bits[0].upper())
                types.append(bits[1].upper())
            return self._create(RowAccessPolicyMeta(
                *self._key(m.group(3), ctx), names, types, m.group(5).rstrip(";").strip()),
                m.group(1), m.group(2))
        m = _ALTER_TABLE_ADD_ROW_POLICY_RE.match(sql)
        if m:
            tm = self.catalog.get_table(m.group(1), ctx.database, ctx.schema)
            pm = self.catalog.get("ROW ACCESS POLICY", m.group(2), tm.database, tm.schema)
            cols = [c.strip().strip('"').upper() for c in m.group(3).split(",") if c.strip()]
            if len(cols) != len(pm.arg_names):
                raise errors.execution_error(
                    f"row access policy {pm.name} takes {len(pm.arg_names)} "
                    f"columns, {len(cols)} bound")
            have = {c.name.upper() for c in tm.columns}
            for c in cols:
                if c not in have:
                    raise errors.object_not_found(f"column {c} in {tm.name}")
            tm.row_access_policy = m.group(2).upper()
            tm.row_access_columns = cols
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        m = _ALTER_TABLE_DROP_ROW_POLICY_RE.match(sql)
        if m:
            tm = self.catalog.get_table(m.group(1), ctx.database, ctx.schema)
            tm.row_access_policy = None
            tm.row_access_columns = []
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        m = _CREATE_SCHEMA_RE.match(sql)
        if m:
            name = m.group(3)
            parts = name.split(".")
            if len(parts) == 2:
                self.catalog.create_schema(parts[0], parts[1], comment=m.group(4), if_not_exists=bool(m.group(2)))
            else:
                self.catalog.create_schema(ctx.database, name, comment=m.group(4), if_not_exists=bool(m.group(2)))
            return Result.status(f"Schema {name.upper()} successfully created.")
        m = _DROP_SCHEMA_RE.match(sql)
        if m:
            name = m.group(2)
            parts = name.split(".")
            if len(parts) == 2:
                self.catalog.drop_schema(parts[0], parts[1], if_exists=bool(m.group(1)))
            else:
                self.catalog.drop_schema(ctx.database, name, if_exists=bool(m.group(1)))
            return Result.status(f"{name.upper()} successfully dropped.")
        m = _CLONE_TABLE_RE.match(sql)
        if m:
            src = self.catalog.get_table(m.group(4), ctx.database, ctx.schema)
            at_version = None
            if m.group(5):
                at_version = self._pick_version(src, m.group(5).upper(), m.group(6).strip())
            self.catalog.clone_table(src, m.group(3), ctx.database, ctx.schema,
                                     at_version=at_version,
                                     if_not_exists=bool(m.group(2)), or_replace=bool(m.group(1)))
            return Result.status(f"Table {m.group(3).upper()} successfully created.")
        m = _UNDROP_TABLE_RE.match(sql)
        if m:
            self.catalog.undrop_table(m.group(1), ctx.database, ctx.schema)
            return Result.status(f"Table {m.group(1).upper()} successfully restored.")
        m = re.match(
            r"^\s*GRANT\s+([\w\s,]+?)\s+ON\s+(ALL|FUTURE)\s+"
            r"(TABLES|VIEWS)\s+IN\s+SCHEMA\s+([\w.\"$]+)\s+TO\s+"
            r"(ROLE|USER)\s+([\w\"$]+)\s*$", sql, re.I)
        if m:
            # GRANT ... ON ALL|FUTURE TABLES|VIEWS IN SCHEMA s: ALL
            # expands to one record per existing object; FUTURE records
            # a schema-level marker (grants are unenforced metadata —
            # reference parity is the record + SHOW GRANTS surface)
            privs = [p.strip().upper() for p in m.group(1).split(",")]
            scope_kind = m.group(2).upper()
            otype = m.group(3).upper().rstrip("S")
            parts = [p.strip('"').upper() for p in m.group(4).split(".")]
            db, sch = (parts[0], parts[1]) if len(parts) == 2 else (ctx.database, parts[0])
            grantee = (m.group(5).upper(), m.group(6).strip('"').upper())
            with self.catalog._lock:
                if scope_kind == "FUTURE":
                    targets = [f"{db}.{sch}.<FUTURE {otype}S>"]
                elif otype == "TABLE":
                    targets = [f"{d}.{s}.{t}" for (d, s, t) in self.catalog.tables
                               if d == db and s == sch]
                else:
                    targets = [f"{d}.{s}.{v}" for (d, s, v) in self.catalog.objects["VIEW"]
                               if d == db and s == sch]
                for p in privs:
                    for t in targets:
                        g = (p, otype, t, grantee[0], grantee[1])
                        if g not in self.catalog.grants:
                            self.catalog.grants.append(g)
            return Result.status("Statement executed successfully.")
        m = _GRANT_RE.match(sql)
        if m:
            privs = [p.strip().upper() for p in m.group(1).split(",")]
            otype = m.group(2).upper()
            oname = (m.group(3).strip('"').upper()
                     if otype in ("DATABASE", "WAREHOUSE")
                     else self._qualify(m.group(3), ctx))
            obj = (otype, oname)
            grantee = (m.group(4).upper(), m.group(5).strip('"').upper())
            with self.catalog._lock:
                for p in privs:
                    g = (p, obj[0], obj[1], grantee[0], grantee[1])
                    if g not in self.catalog.grants:
                        self.catalog.grants.append(g)
            return Result.status("Statement executed successfully.")
        m = _REVOKE_RE.match(sql)
        if m:
            privs = {p.strip().upper() for p in m.group(1).split(",")}
            otype = m.group(2).upper()
            oname = (m.group(3).strip('"').upper()
                     if otype in ("DATABASE", "WAREHOUSE")
                     else self._qualify(m.group(3), ctx))
            obj = (otype, oname)
            grantee = (m.group(4).upper(), m.group(5).strip('"').upper())
            with self.catalog._lock:
                self.catalog.grants = [
                    g for g in self.catalog.grants
                    if not (g[0] in privs and g[1:] == (obj[0], obj[1], *grantee))
                ]
            return Result.status("Statement executed successfully.")
        m = _CREATE_PYFUNC_RE.match(sql)
        if m:
            arg_names, arg_types = [], []
            for a in self.translator._split_args(m.group(3) or ""):
                a = a.strip()
                if not a:
                    continue
                parts = a.split(None, 1)
                arg_names.append(parts[0].strip('"'))
                arg_types.append(parts[1].strip() if len(parts) > 1 else "VARCHAR")
            handler, body = m.group(6), (m.group(7) or "").strip("\n")
            ns: dict = {}
            try:
                exec(compile(body, f"<python udf {m.group(2)}>", "exec"), ns)
            except Exception as e:
                raise errors.syntax_error(
                    f"Python UDF body failed to compile/execute: {e}") from e
            fn = ns.get(handler)
            if not callable(fn):
                raise errors.invalid_parameter(
                    f"HANDLER '{handler}' not found or not callable in the UDF body")
            from pyspark.sql import types as T

            from .functions.typemap import snowflake_to_spark

            fm = self.catalog.create(FunctionMeta(
                *self._key(m.group(2), ctx), [a.upper() for a in arg_names], arg_types,
                m.group(4).strip(), body, m.group(5), language="PYTHON", handler=handler),
                or_replace=bool(m.group(1)))
            spark_t = snowflake_to_spark(fm.returns)
            if isinstance(spark_t, T.DecimalType):
                # NUMBER maps to DecimalType, but Python handlers
                # naturally return int/float — Spark silently NULLs a
                # non-Decimal under DecimalType, so coerce on the way out
                import decimal as _decimal

                inner = fn

                def fn(*a, __inner=inner):  # noqa: ANN002
                    r = __inner(*a)
                    return None if r is None else _decimal.Decimal(str(r))
            # Spark registration is session-wide, so the name is
            # uid-mangled with the namespace; call sites are rewritten
            # via the catalog in _expand_udfs (the catalog entry carries
            # the user-facing name + DDL reconstruction)
            self.spark.udf.register(fm.spark_name, fn, spark_t)
            return self._created(fm)
        m = _CREATE_FUNC_RE.match(sql)
        if m:
            arg_names, arg_types = [], []
            # top-level comma split (arg types may carry parens: NUMBER(12,2))
            for a in self.translator._split_args(m.group(3) or ""):
                a = a.strip()
                if not a:
                    continue
                parts = a.split(None, 1)
                arg_names.append(parts[0].strip('"'))
                arg_types.append(parts[1].strip() if len(parts) > 1 else "VARCHAR")
            body = (m.group(6) if m.group(6) is not None else m.group(7) or "").strip()
            if not body:
                raise errors.syntax_error("empty function body")
            returns = m.group(4).strip()
            table_columns = None
            if returns.upper().startswith("TABLE"):
                inner = returns[returns.index("(") + 1:returns.rindex(")")]
                table_columns = []
                for c in self.translator._split_args(inner):
                    parts = c.strip().split(None, 1)
                    table_columns.append(
                        (parts[0].strip('"').upper(),
                         parts[1].strip() if len(parts) > 1 else "VARCHAR"))
                returns = "TABLE"
            return self._create(FunctionMeta(
                *self._key(m.group(2), ctx), [a.upper() for a in arg_names], arg_types,
                returns, body, m.group(5), table_columns=table_columns), m.group(1))
        m = _CREATE_SEQ_RE.match(sql)
        if m:
            opts = m.group(4) or ""
            sm_ = re.search(r"START\s*(?:WITH\s*|=\s*)?(-?\d+)", opts, re.I)
            im_ = re.search(r"INCREMENT\s*(?:BY\s*|=\s*)?(-?\d+)", opts, re.I)
            return self._create(SequenceMeta(
                *self._key(m.group(3), ctx), start=int(sm_.group(1)) if sm_ else 1,
                increment=int(im_.group(1)) if im_ else 1), m.group(1), m.group(2))
        m = _CREATE_VIEW_RE.match(sql)
        if m:
            cols = [c.strip().strip('"').upper() for c in m.group(4).split(",")] if m.group(4) else None
            key = self._key(m.group(3), ctx)
            prior = self.catalog.objects["VIEW"].get(key)
            vm = self.catalog.create(
                ViewMeta(*key, m.group(6).strip(), cols, m.group(5)),
                or_replace=bool(m.group(1)), if_not_exists=bool(m.group(2)))
            try:
                # validate the definition now (Snowflake compiles the view
                # at creation, and a failed CREATE OR REPLACE leaves the
                # view it would replace in place)
                self.spark.sql(self._view_sql(vm))
            except Exception as e:
                if prior is not None:
                    self.catalog.create(prior, or_replace=True)
                else:
                    self.catalog.drop("VIEW", vm.name, vm.database, vm.schema, if_exists=True)
                if isinstance(e, errors.SnowflakeError):
                    raise
                raise errors.execution_error(f"invalid view definition: {e}") from e
            return self._created(vm)
        m = _CREATE_DYNTABLE_RE.match(sql)
        if m:
            # DYNAMIC TABLE (beyond-reference): materialized query with
            # on-demand full refresh (ALTER ... REFRESH re-runs the
            # stored SELECT into a new immutable version — the coarse
            # mode of Snowflake's dynamic tables; incremental refresh is
            # the stream+task+MERGE triad this engine also supports).
            df = self.query_df(m.group(4), ctx)
            tm = self.catalog.create_table(m.group(2), column_defs(df.schema), ctx.database,
                                           ctx.schema, or_replace=bool(m.group(1)), df=df)
            tm.kind, tm.definition, tm.target_lag = "DYNAMIC TABLE", m.group(4).strip(), m.group(3)
            return Result.status(f"Dynamic table {tm.name} successfully created.")
        m = _CREATE_MV_RE.match(sql)
        if m:
            # MATERIALIZED VIEW (beyond reference): same machinery as
            # DYNAMIC TABLE — stored SELECT materialized into an
            # immutable versioned table; Snowflake's background
            # auto-refresh becomes explicit ALTER … REFRESH here
            df = self.query_df(m.group(3), ctx)
            tm = self.catalog.create_table(m.group(2), column_defs(df.schema), ctx.database,
                                           ctx.schema, or_replace=bool(m.group(1)), df=df)
            tm.kind, tm.definition = "MATERIALIZED VIEW", m.group(3).strip()
            return Result.status(f"Materialized view {tm.name} successfully created.")
        m = _REFRESH_RE.match(sql)
        if m:
            # the stored SELECT runs again into a new version of the table
            kind = " ".join(m.group(1).upper().split())
            tm = self.catalog.get_table(m.group(2), ctx.database, ctx.schema)
            if tm.kind != kind or tm.definition is None:
                raise errors.execution_error(f"{tm.name} is not a {kind.lower()}")
            df = self.query_df(tm.definition, ctx)
            self.catalog.write_table(tm, lambda _live: df)
            return Result.status("Statement executed successfully.")
        m = _CREATE_TASK_RE.match(sql)
        if m:
            opts = m.group(4) or ""
            wm = re.search(r"WAREHOUSE\s*=\s*([\w\"$]+)", opts, re.I)
            sm_ = re.search(r"SCHEDULE\s*=\s*'((?:[^']|'')*)'", opts, re.I)
            cm_ = re.search(r"COMMENT\s*=\s*'((?:[^']|'')*)'", opts, re.I)
            return self._create(TaskMeta(
                *self._key(m.group(3), ctx), sql_text=m.group(5).strip(),
                schedule=sm_.group(1) if sm_ else None,
                warehouse=wm.group(1) if wm else None,
                comment=cm_.group(1) if cm_ else None), m.group(1), m.group(2))
        m = _ALTER_TASK_RE.match(sql)
        if m:
            t = self.catalog.get("TASK", m.group(1), ctx.database, ctx.schema)
            t.state = "started" if m.group(2).upper() == "RESUME" else "suspended"
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        m = _CREATE_STREAM_RE.match(sql)
        if m:
            tm = self.catalog.get_table(m.group(4), ctx.database, ctx.schema)
            return self._create(StreamMeta(
                *self._key(m.group(3), ctx), src=(tm.database, tm.schema, tm.name),
                src_uid=tm.uid, offset_version=tm.version,
                append_only=bool(m.group(5)) and m.group(5).upper() == "TRUE",
                comment=m.group(6)), m.group(1), m.group(2))
        m = _CTAS_RE.match(sql)
        if m and " AS " in up:
            df = self.query_df(m.group(5), ctx)
            cols = column_defs(df.schema)
            self.catalog.create_table(m.group(4), cols, ctx.database, ctx.schema,
                                      if_not_exists=bool(m.group(3)), or_replace=bool(m.group(1)), df=df)
            self._apply_table_kind(m.group("kind"), m.group(4), ctx)
            return Result.status(f"Table {m.group(4).upper()} successfully created.")
        m = _CREATE_TABLE_LIKE_RE.match(sql)
        if m:
            src = self.catalog.get_table(m.group(4), ctx.database, ctx.schema)
            import copy

            self.catalog.create_table(
                m.group(3), copy.deepcopy(src.columns), ctx.database, ctx.schema,
                comment=src.comment, clustering_key=src.clustering_key,
                if_not_exists=bool(m.group(2)), or_replace=bool(m.group(1)))
            return Result.status(f"Table {m.group(3).upper()} successfully created.")
        m = _COMMENT_ON_RE.match(sql)
        if m:
            self.catalog.alter_table_comment(m.group(1), m.group(2), ctx.database, ctx.schema)
            return Result.status("Statement executed successfully.")
        m = _COMMENT_ON_COLUMN_RE.match(sql)
        if m:
            from .naming import normalize_ident

            tm = self.catalog.get_table(m.group(1), ctx.database, ctx.schema)
            cname = normalize_ident(m.group(2))
            col = next((c for c in tm.columns if c.name.upper() == cname), None)
            if col is None:
                raise errors.object_not_found(f"column {cname} in {tm.name}")
            col.comment = m.group(3)
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        m = _ALTER_VIEW_RENAME_RE.match(sql)
        if m:
            vm = self.catalog.get("VIEW", m.group(1), ctx.database, ctx.schema)
            new = self._key(m.group(2), ctx)
            with self.catalog._lock:
                self.catalog.create(dataclasses.replace(
                    vm, database=new[0], schema=new[1], name=new[2]))
                self.catalog.drop("VIEW", vm.name, vm.database, vm.schema)
            return Result.status("Statement executed successfully.")
        m = _ALTER_TABLE_RETENTION_RE.match(sql)
        if m:
            tm = self.catalog.get_table(m.group(1), ctx.database, ctx.schema)
            n = int(m.group(2))
            if n < 1:
                raise errors.syntax_error("DATA_RETENTION_VERSIONS must be >= 1")
            tm.retention_versions = n
            return Result.status("Statement executed successfully.")
        m = _ALTER_TABLE_RENAME_COL_RE.match(sql)
        if m:
            tm = self.catalog.get_table(m.group(1), ctx.database, ctx.schema)
            old, new = m.group(2).upper(), m.group(3).upper()
            if not any(c.name == old for c in tm.columns):
                raise errors.object_not_found(f"{tm.name}.{old}")

            def renamed(live: DataFrame) -> DataFrame:
                # live was read with the old names; the rename of the
                # metadata lands inside the table lock with the data
                for c in tm.columns:
                    if c.name == old:
                        c.name = new
                return live.withColumnRenamed(old, new)

            self.catalog.write_table(tm, renamed)
            return Result.status("Statement executed successfully.")
        m = _ALTER_TABLE_DROP_COL_RE.match(sql)
        if m and not re.search(r"\bADD\b|\bRENAME\b", up):
            tm = self.catalog.get_table(m.group(1), ctx.database, ctx.schema)
            col = m.group(2).upper()
            if not any(c.name == col for c in tm.columns):
                raise errors.object_not_found(f"{tm.name}.{col}")
            if len(tm.columns) == 1:
                raise errors.execution_error("cannot drop the only column")

            def dropped(live: DataFrame) -> DataFrame:
                tm.columns = [c for c in tm.columns if c.name != col]
                return live.drop(col)

            self.catalog.write_table(tm, dropped)
            return Result.status("Statement executed successfully.")
        # CLUSTER BY is extracted up-front (the greedy column-list regex
        # would otherwise swallow it); recorded as metadata AND acted on:
        # writes repartition+sort by the key (Catalog._layout)
        clustering_key = None
        cm = re.search(r"\bCLUSTER\s+BY\s*\(([^)]*)\)", sql, re.I)
        if cm:
            clustering_key = cm.group(1).strip()
            sql = sql[: cm.start()] + sql[cm.end():]
        m = _CREATE_EXT_TABLE_RE.match(sql)
        if m:
            # CREATE EXTERNAL TABLE over a stage directory — beyond
            # reference (no external tables there). Schema inferred from
            # the files; file list snapshots at CREATE, REFRESH re-reads.
            from .sources.stage import StageManager

            stage = self.catalog.get("STAGE", m.group(4), ctx.database, ctx.schema)
            path = StageManager(self.catalog)._resolve_inside(
                stage, (m.group(5) or "").lstrip("/"))
            ff_opts: dict[str, str] = {}
            fmt = "PARQUET"
            for part in re.findall(r"(\w+)\s*=\s*'?([\w,.;|-]*)'?", m.group(6) or ""):
                if part[0].upper() == "TYPE":
                    fmt = part[1].upper()
                else:
                    ff_opts[part[0].upper()] = part[1]
            self.catalog.register_external_source(
                m.group(3), path, fmt, ff_opts, ctx.database, ctx.schema,
                or_replace=bool(m.group(1)))
            return Result.status(
                f"Table {m.group(3).upper()} successfully created.")
        m = _ALTER_EXT_REFRESH_RE.match(sql)
        if m:
            tm = self.catalog.get_table(m.group(1), ctx.database, ctx.schema)
            self.catalog.refresh_external(tm)
            return Result.status("Statement executed successfully.")
        # ---- PIPE (Snowpipe-lite, beyond reference): a stored COPY
        # executed by ALTER PIPE ... REFRESH. No auto-ingest daemon —
        # REFRESH is the trigger (Snowflake's REFRESH exists for the
        # same catch-up purpose); COPY load history makes each REFRESH
        # load only files not yet in the target table.
        m = _CREATE_PIPE_RE.match(sql)
        if m:
            from .operators.copy_into import parse_copy

            parse_copy(m.group(4))  # validate the COPY text up front
            return self._create(PipeMeta(*self._key(m.group(3), ctx), m.group(4).strip()),
                                m.group(1), m.group(2))
        m = _ALTER_PIPE_REFRESH_RE.match(sql)
        if m:
            pipe = self.catalog.get("PIPE", m.group(1), ctx.database, ctx.schema)
            from .operators.copy_into import CopyProcessor

            # Snowflake resolves a pipe's COPY definition in the PIPE's
            # own schema, not the refreshing session's: run with a
            # context pinned to the pipe's database/schema so unqualified
            # table/stage names resolve as they did at CREATE PIPE time
            pipe_ctx = SessionContext(database=pipe.database, schema=pipe.schema)
            pipe_ctx.parameters = ctx.parameters
            return CopyProcessor(self.spark, self.catalog).execute(
                pipe.copy_sql, pipe_ctx, query_df=self.query_df)
        m = _CREATE_TABLE_RE.match(sql)
        if m:
            or_replace = bool(re.match(r"^\s*CREATE\s+OR\s+REPLACE", sql, re.I))
            cols = parse_column_defs(m.group(4))
            self.catalog.create_table(m.group(3), cols, ctx.database, ctx.schema,
                                      comment=m.group(5), if_not_exists=bool(m.group(2)),
                                      or_replace=or_replace, clustering_key=clustering_key)
            self._apply_table_kind(m.group("kind"), m.group(3), ctx)
            return Result.status(f"Table {m.group(3).upper()} successfully created.")
        m = _ALTER_TABLE_RECLUSTER_RE.match(sql)
        if m:
            # RECLUSTER: rewrite the live version in clustering-key
            # order (write_table already repartition+sorts on the key)
            tm = self.catalog.get_table(m.group(1), ctx.database, ctx.schema)
            if not tm.clustering_key:
                raise errors.invalid_parameter(
                    f"{tm.name} has no clustering key")
            self.catalog.write_table(tm, lambda live: live)
            return Result.status("Statement executed successfully.")
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+([\w.\"$]+)\s+ADD\s+"
            r"(?:CONSTRAINT\s+[\w\"$]+\s+)?(PRIMARY\s+KEY|UNIQUE)\s*"
            r"\(\s*([\w\"$,\s]+)\)\s*$", sql, re.I)
        if m:
            # metadata-only, like Snowflake (PK/UNIQUE are recorded,
            # not enforced); previously this misparsed as an
            # add-column and appended a bogus string column
            tm = self.catalog.get_table(m.group(1), ctx.database, ctx.schema)
            names = {c.strip().strip('"').upper() for c in m.group(3).split(",")}
            for c in tm.columns:
                if c.name.upper() in names and m.group(2).upper().startswith("PRIMARY"):
                    c.primary_key = True
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        m = _ALTER_TABLE_ADD_COL_RE.match(sql)
        if m and "RENAME" not in up:
            tm = self.catalog.get_table(m.group(1), ctx.database, ctx.schema)
            col = ColumnDef(m.group(2).upper(), m.group(3))
            from pyspark.sql import functions as F

            from .functions.typemap import snowflake_to_spark

            def added(live: DataFrame) -> DataFrame:
                tm.columns.append(col)
                return live.withColumn(
                    col.name, F.lit(None).cast(snowflake_to_spark(col.sf_type)))

            self.catalog.write_table(tm, added)
            return Result.status("Statement executed successfully.")
        m = _ALTER_TABLE_RENAME_RE.match(sql)
        if m:
            self.catalog.rename_table(m.group(1), m.group(2), ctx.database, ctx.schema)
            return Result.status("Statement executed successfully.")
        m = _ALTER_TABLE_SWAP_RE.match(sql)
        if m:
            if m.group(1) and not self.catalog.has_table(
                    m.group(2), ctx.database, ctx.schema):
                return Result.status("Statement executed successfully.")
            self.catalog.swap_tables(m.group(2), m.group(3), ctx.database, ctx.schema)
            return Result.status("Statement executed successfully.")
        mm_ = re.match(
            r"^\s*ALTER\s+TABLE\s+([\w.\"$]+)\s+(?:ALTER|MODIFY)\s*\((.*)\)\s*$",
            sql, re.I | re.S)
        if mm_:
            # parenthesized multi-column form:
            # ALTER TABLE t ALTER (COLUMN a SET ..., COLUMN b ...)
            t = Translator()
            res = None
            for piece in t._split_args(mm_.group(2)):
                pm_ = re.match(r"^\s*(?:COLUMN\s+)?([\w\"$]+)\s+(.+?)\s*$",
                               piece.strip(), re.I | re.S)
                if not pm_:
                    raise errors.syntax_error(f"bad ALTER column entry: {piece[:40]}")
                res = self._alter_column(mm_.group(1), pm_.group(1), pm_.group(2), ctx)
            if res is None:
                raise errors.syntax_error("empty ALTER column list")
            return res
        m = _ALTER_COLUMN_RE.match(sql)
        if m:
            return self._alter_column(m.group(1), m.group(2), m.group(3), ctx)
        # warehouses are handled by Engine._run
        raise errors.syntax_error(f"unsupported DDL: {sql[:80]}")

    def _alter_column(self, tname: str, colname: str, rest: str,
                      ctx: SessionContext) -> Result:
        """ALTER TABLE t ALTER|MODIFY [COLUMN] c <action> (beyond
        reference; Snowflake contract). SET DATA TYPE rewrites the data
        through a cast (ANSI cast surfaces lossy narrowing as an error,
        like Snowflake's own restriction); the NOT NULL / DEFAULT /
        COMMENT forms are metadata-only."""
        from .functions.typemap import snowflake_to_spark
        from .naming import normalize_ident

        tm = self.catalog.get_table(tname, ctx.database, ctx.schema)
        cname = normalize_ident(colname)
        col = next((c for c in tm.columns if c.name.upper() == cname), None)
        if col is None:
            raise errors.object_not_found(f"column {cname} in {tm.name}")
        r = rest.strip().rstrip(";").strip()
        # keyworded (SET DATA TYPE x) and bare (MODIFY COLUMN c x) forms —
        # both are valid Snowflake
        mt = re.match(r"^(?:(?:SET\s+DATA\s+TYPE|SET\s+TYPE|TYPE|DATA\s+TYPE)\s+)?"
                      r"([A-Za-z_]\w*(?:\s+PRECISION)?(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*$",
                      r, re.I)
        if mt and mt.group(1).split("(")[0].strip().upper() in (
                "SET", "DROP", "COMMENT", "UNSET", "NOT"):
            mt = None  # an action keyword, not a bare type name
        if mt:
            new_sf = mt.group(1).upper()

            def recast(live: DataFrame) -> DataFrame:
                col.sf_type = new_sf
                return live.withColumn(
                    col.name, live[col.name].cast(snowflake_to_spark(new_sf)))

            self.catalog.write_table(tm, recast)
            return Result.status("Statement executed successfully.")
        if re.match(r"^SET\s+NOT\s+NULL$", r, re.I):
            nulls = self.catalog.read_table(tm).where(
                f"`{col.name}` IS NULL").limit(1).count()
            if nulls:
                raise errors.execution_error(
                    f"column '{col.name}' contains NULL values; cannot SET NOT NULL")
            col.nullable = False
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        if re.match(r"^DROP\s+NOT\s+NULL$", r, re.I):
            col.nullable = True
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        md = re.match(r"^SET\s+DEFAULT\s+(.+)$", r, re.I | re.S)
        if md:
            col.default = md.group(1).strip()
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        if re.match(r"^DROP\s+DEFAULT$", r, re.I):
            col.default = None
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        mp = re.match(r"^SET\s+MASKING\s+POLICY\s+([\w.\"$]+)(?:\s+FORCE)?$", r, re.I)
        if mp:
            self.catalog.get("MASKING POLICY", mp.group(1), tm.database, tm.schema)  # raises if absent
            col.masking_policy = mp.group(1).upper()
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        if re.match(r"^UNSET\s+MASKING\s+POLICY$", r, re.I):
            col.masking_policy = None
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        mc = re.match(r"^COMMENT\s+'([^']*)'$", r, re.I)
        if mc:
            col.comment = mc.group(1)
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        if re.match(r"^UNSET\s+COMMENT$", r, re.I):
            col.comment = None
            self.catalog.mutation += 1
            return Result.status("Statement executed successfully.")
        raise errors.syntax_error(f"unsupported ALTER COLUMN action: {rest[:60]}")

    # ------------------------------------------------------------------
    # DML
    # ------------------------------------------------------------------

    def _dml_rewrites(self, sql: str, ctx: SessionContext) -> str:
        """DML bodies get the same session-variable / SQL-UDF expansion
        as queries: INSERT ... VALUES ($v), UPDATE t SET x = my_udf(y),
        MERGE ... UPDATE SET x = $v are valid Snowflake (query_df applies
        these for SELECTs; the DML parsers read the substituted text)."""
        sql = self._rewrite_context_fns(sql, ctx)
        sql = self._substitute_variables(sql, ctx)
        return self._expand_udfs(sql, ctx)

    def _dml(self, sql: str, ctx: SessionContext) -> Result:
        sql = self._dml_rewrites(sql, ctx)
        m = _INSERT_MULTI_RE.match(sql)
        if m:
            return self._insert_multi(m, ctx)
        m = _INSERT_RE.match(sql)
        if m:
            return self._insert(m, ctx)
        m = _DELETE_ALL_RE.match(sql)
        if m:
            return self._delete_all(m, ctx)
        m = _UPDATE_DELETE_RE.match(sql)
        if m:
            # one compiler for both (and MERGE): operators/merge_into.py
            from .operators import merge_into

            verb = m.group(1).upper()
            parse = merge_into.parse_update if verb == "UPDATE" else merge_into.parse_delete
            return merge_into.run_dml(self, parse(sql), ctx, (verb,))
        m = _TRUNCATE_RE.match(sql)
        if m:
            if m.group(1) and not self.catalog.has_table(
                    m.group(2), ctx.database, ctx.schema):
                return Result.status("Statement executed successfully.")
            tm = self.catalog.get_table(m.group(2), ctx.database, ctx.schema)
            self.catalog.write_table(tm, lambda _live: None)
            return Result.status("Statement executed successfully.")
        raise errors.syntax_error(f"unsupported DML: {sql[:80]}")

    def _fill_values_defaults(self, body: str, tm, col_list) -> str:
        """Replace bare DEFAULT tokens in a VALUES body with the target
        column's declared default (or NULL) by position."""
        if not re.search(r"\bDEFAULT\b", body, re.I):
            return body
        from .plans.translator import match_paren

        t = Translator()
        names = col_list or [c.name.upper() for c in tm.columns]
        defaults = {c.name.upper(): (c.default if c.default is not None else "NULL")
                    for c in tm.columns}
        out, i, n = [], 0, len(body)
        while i < n:
            ch = body[i]
            if ch == "'":
                j = i + 1
                while j < n:
                    if body[j] == "'":
                        if j + 1 < n and body[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                out.append(body[i:j + 1])
                i = j + 1
                continue
            if ch == "(":
                close = match_paren(body, i)
                if close > i:
                    args = t._split_args(body[i + 1:close])
                    if any(a.strip().upper() == "DEFAULT" for a in args):
                        filled = [
                            defaults.get(names[k], "NULL")
                            if (a.strip().upper() == "DEFAULT" and k < len(names))
                            else a
                            for k, a in enumerate(args)]
                        out.append("(" + ", ".join(x.strip() for x in filled) + ")")
                        i = close + 1
                        continue
            out.append(ch)
            i += 1
        return "".join(out)

    def _insert_multi(self, m: re.Match, ctx: SessionContext) -> Result:
        """Snowflake multi-table INSERT ALL|FIRST (beyond reference):
        the source SELECT is scanned ONCE (cached), each INTO clause
        appends its (optionally WHEN-filtered, optionally VALUES-mapped)
        projection. FIRST routes each row to only the first matching
        WHEN branch (implemented as cumulative NOT-previous filters);
        ELSE catches rows no WHEN matched."""
        overwrite = bool(m.group(1))
        first_mode = m.group(2).upper() == "FIRST"
        clauses_src, select_src = m.group(3), m.group(4)
        clauses = []
        pos = 0
        while pos < len(clauses_src):
            cm = _INSERT_MULTI_CLAUSE_RE.match(clauses_src, pos)
            if not cm or cm.end() == pos:
                if clauses_src[pos:].strip():
                    raise errors.syntax_error(
                        f"bad multi-insert clause: {clauses_src[pos:pos + 50]}")
                break
            clauses.append((bool(cm.group(1)), cm.group(2), cm.group(3),
                            cm.group(4), cm.group(5)))
            pos = cm.end()
        if not clauses:
            raise errors.syntax_error("multi-insert has no INTO clause")
        src = self.query_df(select_src, ctx)
        src = src.cache()
        try:
            total = 0
            prev_conds: list[str] = []
            for is_else, cond, tname, cols, values in clauses:
                tm = self.catalog.get_table(tname, ctx.database, ctx.schema)
                branch = src
                cond_expr = self._dml_expr(cond, ctx) if cond else None
                # "not matched" means "condition not TRUE": a NULL WHEN
                # condition must still route the row to ELSE (and, in
                # FIRST mode, to a later matching branch) — bare
                # NOT (c1 OR c2) propagates NULL and silently DROPS the
                # row (r10 mti fuzz family found this)
                def _none_matched(conds: list[str]) -> str:
                    return "NOT (" + " OR ".join(
                        f"coalesce(({c}), FALSE)" for c in conds) + ")"

                if is_else:
                    # rows no WHEN matched
                    if prev_conds:
                        branch = branch.filter(_none_matched(prev_conds))
                elif cond_expr is not None:
                    f = cond_expr
                    if first_mode and prev_conds:
                        f = f"({f}) AND {_none_matched(prev_conds)}"
                    branch = branch.filter(f)
                    prev_conds.append(cond_expr)
                if values:
                    exprs = [self._dml_expr(a.strip(), ctx)
                             for a in Translator()._split_args(values)]
                    branch = branch.selectExpr(*[
                        f"({e}) AS __mi_{k}" for k, e in enumerate(exprs)])
                col_list = ([c.strip().upper() for c in cols.split(",")]
                            if cols else None)
                if overwrite:
                    from pyspark.sql import Observation
                    from pyspark.sql import functions as F

                    # count rides the write (no extra action per target)
                    obs = Observation()
                    branch = branch.observe(obs, F.count(F.lit(1)).alias("n"))
                aligned = self._align_insert_columns(
                    tm, branch.toDF(*[c.name for c in tm.columns][:len(branch.columns)])
                    if col_list is None and values else branch, col_list)
                if overwrite:
                    self.catalog.write_table(tm, lambda _live: aligned)
                    total += int(obs.get["n"])
                else:
                    total += self.catalog.write_table(tm, aligned)
            r = Result(columns=["number of rows inserted"], rows=[[total]])
            r.rows_inserted = total
            return r
        finally:
            src.unpersist()

    def _insert(self, m: re.Match, ctx: SessionContext) -> Result:
        overwrite = bool(m.group(1))  # INSERT OVERWRITE truncates first
        tm = self.catalog.get_table(m.group(2), ctx.database, ctx.schema)
        col_list = [c.strip().upper() for c in m.group(3).split(",")] if m.group(3) else None
        body = m.group(4)
        if body.upper().startswith("VALUES"):
            body = self._fill_values_defaults(body, tm, col_list)
            if re.search(r"\(\s*SELECT\b", body, re.I):
                # Spark allows no subquery in an inline table: one
                # SELECT per row instead
                body = " UNION ALL ".join(
                    f"SELECT {row.strip()[1:-1]}"
                    for row in Translator()._split_args(body[len("VALUES"):]))
        with self.reading_streams() as streams:
            src = self.query_df(body, ctx) if not body.upper().startswith("VALUES") else self.spark.sql(
                self._dml_expr(self._rewrite_nextval_literal(body, ctx), ctx)
            )
        if overwrite:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            # single-pass count: observe rows as they flow into the
            # write (an INSERT..SELECT scans its source exactly once)
            obs = Observation()
            src = self._align_insert_columns(
                tm, src.observe(obs, F.count(F.lit(1)).alias("n")), col_list)
            self.catalog.write_table(tm, lambda _live: src)
            n = int(obs.get["n"])
        else:
            n = self.catalog.write_table(tm, self._align_insert_columns(tm, src, col_list))
        for sm in streams:
            self.catalog.advance_stream(sm)
        r = Result(columns=["number of rows inserted"], rows=[[n]])
        r.rows_inserted = n
        return r

    def _align_insert_columns(self, tm, src: DataFrame, col_list: list[str] | None) -> DataFrame:
        from pyspark.sql import functions as F

        from .functions.typemap import snowflake_to_spark

        if col_list is None:
            return src
        if len(col_list) != len(src.columns):
            raise errors.syntax_error("INSERT column list does not match VALUES arity")
        # every named column must exist on the target — a typo'd name
        # would otherwise silently insert a row of defaults/NULLs
        known = {c.name.upper() for c in tm.columns}
        for name in col_list:
            if name not in known:
                raise errors.invalid_identifier(name)
        renamed = src.toDF(*col_list)
        out_cols = []
        for c in tm.columns:
            if c.name.upper() in col_list:
                out_cols.append(renamed[c.name.upper()].cast(snowflake_to_spark(c.sf_type)).alias(c.name))
            elif c.default is not None:
                out_cols.append(F.expr(c.default).cast(snowflake_to_spark(c.sf_type)).alias(c.name))
            else:
                out_cols.append(F.lit(None).cast(snowflake_to_spark(c.sf_type)).alias(c.name))
        return renamed.select(*out_cols)

    @contextlib.contextmanager
    def reading_streams(self):
        """Collect the streams that the statements resolved on this
        thread inside the block read as relations (``_resolve_names``):
        the streams a DML consumes (advances) once it commits."""
        outer = getattr(self._tt_local, "streams", None)
        self._tt_local.streams = streams = []
        try:
            yield streams
        finally:
            self._tt_local.streams = outer

    def _delete_all(self, m: re.Match, ctx: SessionContext) -> Result:
        """DELETE FROM t without a condition: an empty next version."""
        tm = self.catalog.get_table(m.group(1), ctx.database, ctx.schema)
        counted: list[int] = []

        def emptied(df: DataFrame) -> None:
            counted.append(df.count())
            return None

        self.catalog.write_table(tm, emptied)
        r = Result(columns=["number of rows deleted"], rows=[[counted[0]]])
        r.rows_deleted = counted[0]
        return r

    # ------------------------------------------------------------------
    # USE / SHOW / DESCRIBE / EXPLAIN / transactions
    # ------------------------------------------------------------------

    def _use(self, sql: str, ctx: SessionContext) -> Result:
        m = _USE_RE.match(sql)
        if not m:
            raise errors.syntax_error(sql)
        kind = (m.group(1) or "").upper()
        name = m.group(2)
        from .naming import normalize_ident

        if kind == "SCHEMA" or (not kind and "." in name):
            parts = name.split(".")
            if len(parts) == 2:
                ctx.database = normalize_ident(parts[0])
                ctx.schema = normalize_ident(parts[1])
            else:
                ctx.schema = normalize_ident(name)
        elif kind == "WAREHOUSE":
            ctx.warehouse = normalize_ident(name)
            sess = getattr(ctx, "_session", None)
            if sess is not None:
                sess.warehouse = ctx.warehouse
        elif kind == "ROLE":
            ctx.role = normalize_ident(name)
            sess = getattr(ctx, "_session", None)
            if sess is not None:
                sess.role = ctx.role
        else:
            ctx.database = normalize_ident(name)
        return Result.status("Statement executed successfully.")

    def _show(self, sql: str, ctx: SessionContext) -> Result:
        up = sql.upper()
        # route on the kind after SHOW [TERSE]: substring matching sent
        # SHOW GRANTS ON TABLE MY_TABLES to the TABLES handler (the
        # object name contained "TABLES")
        fm0 = re.match(r"^\s*SHOW\s+(?:TERSE\s+)?((?:USER|FILE|MASKING|ROW\s+ACCESS)\s+\w+|\w+)", up)
        what = " ".join(fm0.group(1).split()) if fm0 else ""
        first = what.split(" ")[0]
        like = None
        lm = re.search(r"LIKE\s+'([^']*)'", sql, re.I)
        if lm:
            # escape regex metacharacters FIRST: names with $ must
            # match, and a pattern like '(' must not crash re.compile
            like = re.escape(lm.group(1)).replace("%", ".*").replace("_", ".")

        def _match(name: str) -> bool:
            return like is None or re.fullmatch(like, name, re.I) is not None

        # SHOW ... IN ACCOUNT | DATABASE <db> | SCHEMA [<db>.]<sch> |
        # <schema-name> — Snowflake scope override; without one the
        # handlers scope to the session's current database (and the
        # ACCOUNT form lifts the filter entirely)
        scope_db, scope_sch = ctx.database, None
        sm_ = re.search(
            r"\bIN\s+(ACCOUNT|DATABASE\s+[\w.\"$]+|SCHEMA\s+[\w.\"$]+|[\w.\"$]+)\s*$",
            sql, re.I)
        if sm_:
            tok = sm_.group(1)
            up_tok = tok.upper()
            from .naming import normalize_ident

            if up_tok == "ACCOUNT":
                scope_db = None
            elif up_tok.startswith("DATABASE"):
                scope_db = normalize_ident(tok.split(None, 1)[1])
            else:
                name = tok.split(None, 1)[1] if up_tok.startswith("SCHEMA") else tok
                parts = [normalize_ident(p) for p in name.split(".")]
                if len(parts) == 2:
                    scope_db, scope_sch = parts[0], parts[1]
                else:
                    scope_sch = parts[0]

        def _in_scope(db: str, sch: str) -> bool:
            if scope_db is not None and db != scope_db:
                return False
            return scope_sch is None or sch == scope_sch

        if first == "DATABASES":
            rows = [[db, v.get("comment")] for db, v in sorted(self.catalog.databases.items()) if _match(db)]
            return Result(columns=["name", "comment"], rows=rows)
        if first == "SCHEMAS":
            rows = [[sch, db] for (db, sch) in sorted(self.catalog.schemas)
                    if _match(sch) and (scope_db is None or db == scope_db
                                        or not sm_)]
            return Result(columns=["name", "database_name"], rows=rows)
        if what in _SHOW_OBJECTS:
            kind, columns, row = _SHOW_OBJECTS[what]
            return Result(columns=columns, rows=[
                row(o) for o in self.catalog.list_objects(kind)
                if _in_scope(o.database, o.schema) and _match(o.name)])
        if first == "COLUMNS":
            # SHOW COLUMNS [IN <table>]: current DB scope, optional table
            tm_ = re.search(r"IN\s+(?:TABLE\s+)?([\w.\"$]+)", up)
            rows = []
            for (db, sch, tbl), t in sorted(self.catalog.tables.items()):
                if db != ctx.database:
                    continue
                if tm_ and tbl != tm_.group(1).split(".")[-1].strip('"'):
                    continue
                if not tm_ and not _match(tbl):
                    continue
                for c in t.columns:
                    rows.append([tbl, sch, c.name, c.sf_type,
                                 "true" if c.nullable else "false",
                                 c.default, "COLUMN"])
            return Result(columns=["table_name", "schema_name", "column_name",
                                   "data_type", "null?", "default", "kind"], rows=rows)
        if first == "MATERIALIZED":
            rows = [
                [tbl, db, sch, (tm.definition or "")[:200], tm.comment]
                for (db, sch, tbl), tm in sorted(self.catalog.tables.items())
                if _in_scope(db, sch) and tm.kind == "MATERIALIZED VIEW" and _match(tbl)
            ]
            return Result(columns=["name", "database_name", "schema_name", "text", "comment"], rows=rows)
        if first == "OBJECTS":
            rows = [
                [tbl, db, sch, tm.kind, tm.comment]
                for (db, sch, tbl), tm in sorted(self.catalog.tables.items())
                if _in_scope(db, sch) and _match(tbl)
            ] + [
                [vm.name, vm.database, vm.schema, "VIEW", vm.comment]
                for vm in self.catalog.list_objects("VIEW")
                if _in_scope(vm.database, vm.schema) and _match(vm.name)
            ]
            return Result(columns=["name", "database_name", "schema_name", "kind", "comment"],
                          rows=sorted(rows))
        if first == "DYNAMIC":
            rows = [
                [tbl, db, sch, tm.target_lag, tm.definition, tm.comment]
                for (db, sch, tbl), tm in sorted(self.catalog.tables.items())
                if _in_scope(db, sch) and tm.kind == "DYNAMIC TABLE" and _match(tbl)
            ]
            return Result(columns=["name", "database_name", "schema_name",
                                   "target_lag", "text", "comment"], rows=rows)
        if first == "TABLES":
            # SHOW TABLES HISTORY includes UNDROP-able dropped tables
            # with their drop marker (Snowflake's dropped_on column)
            history = "HISTORY" in up
            rows = [
                [tbl, db, sch, tm.kind, tm.comment] + ([None] if history else [])
                for (db, sch, tbl), tm in sorted(self.catalog.tables.items())
                if _in_scope(db, sch) and _match(tbl)
            ]
            if history:
                import datetime as _dt

                rows += [
                    [tbl, db, sch, tm.kind, tm.comment,
                     _dt.datetime.fromtimestamp(tm.dropped_on).isoformat(sep=" ")
                     if tm.dropped_on else None]
                    for (db, sch, tbl), tm in sorted(self.catalog.dropped_tables.items())
                    if _in_scope(db, sch) and _match(tbl)
                    and (db, sch, tbl) not in self.catalog.tables
                ]
                return Result(
                    columns=["name", "database_name", "schema_name", "kind", "comment", "dropped_on"],
                    rows=rows,
                )
            return Result(columns=["name", "database_name", "schema_name", "kind", "comment"], rows=rows)
        if first == "GRANTS":
            # SHOW GRANTS [ON <type> <name> | TO ROLE|USER <name>]
            gm = re.search(r"GRANTS\s+ON\s+(\w+)\s+([\w.\"$]+)", up)
            tm_ = re.search(r"GRANTS\s+TO\s+(ROLE|USER)\s+([\w\"$]+)", up)
            grants = self.catalog.grants
            if gm:
                otype = gm.group(1)
                oname = (gm.group(2).strip('"')
                         if otype in ("DATABASE", "WAREHOUSE")
                         else self._qualify(gm.group(2), ctx))
                grants = [g for g in grants if g[1] == otype and g[2] == oname]
            elif tm_:
                grants = [g for g in grants
                          if g[3] == tm_.group(1) and g[4] == tm_.group(2).strip('"')]
            rows = [[p, ot, on, gt, gr] for (p, ot, on, gt, gr) in sorted(grants)]
            return Result(columns=["privilege", "granted_on", "name",
                                   "granted_to", "grantee_name"], rows=rows)
        if first == "QUERY":
            # query-history log (reference: pkg/metadata/repository.go:1213-1378)
            rows = [[st.sql[:200], st.status.value, st.rows,
                     int(((st.end or time.time()) - st.start) * 1000),
                     st.error.message if st.error else None, st.query_id]
                    for st in self.statements.recent(100)]
            return Result(columns=["query_text", "status", "rows", "total_elapsed_time",
                                   "error_message", "query_id"], rows=rows)
        if first == "ROLES":
            return Result(columns=["name", "is_current"],
                          rows=[[ctx.role, "Y"]])
        if first == "USERS":
            return Result(columns=["name", "default_role"],
                          rows=[[ctx.user, ctx.role]])
        raise errors.syntax_error(f"unsupported SHOW: {sql[:60]}")

    def _describe(self, sql: str, ctx: SessionContext) -> Result:
        dbm_ = re.match(r"^\s*DESC(?:RIBE)?\s+DATABASE\s+([\w\"$]+)\s*$", sql, re.I)
        if dbm_:
            from .naming import normalize_ident

            db = normalize_ident(dbm_.group(1))
            if db not in self.catalog.databases:
                raise errors.object_not_found(db)
            rows = [[sch, "SCHEMA"] for (d, sch) in sorted(self.catalog.schemas)
                    if d == db]
            return Result(columns=["name", "kind"], rows=rows)
        scm_ = re.match(
            r"^\s*DESC(?:RIBE)?\s+SCHEMA\s+([\w.\"$]+)\s*$", sql, re.I)
        if scm_:
            from .naming import normalize_ident

            parts = [normalize_ident(p) for p in scm_.group(1).split(".")]
            db, sch = (parts[0], parts[1]) if len(parts) == 2 else (ctx.database, parts[0])
            if (db, sch) not in self.catalog.schemas:
                raise errors.object_not_found(f"{db}.{sch}")
            rows = [[name, tm.kind]
                    for (d, s, name), tm in sorted(self.catalog.tables.items())
                    if d == db and s == sch]
            rows += [[vm.name, "VIEW"] for vm in self.catalog.list_objects("VIEW", db)
                     if vm.schema == sch]
            return Result(columns=["name", "kind"], rows=rows)
        rm_ = re.match(
            r"^\s*DESC(?:RIBE)?\s+RESULT\s+(?:'([^']+)'|LAST_QUERY_ID\s*\(\s*\))\s*$",
            sql, re.I)
        if rm_:
            res = self.statements.result(rm_.group(1) or ctx.last_query_id)
            from .functions.typemap import spark_to_snowflake_name

            if getattr(res, "spark_schema", None) is not None:
                rows = [[f.name.upper(), spark_to_snowflake_name(f.dataType), "COLUMN",
                         "Y" if f.nullable else "N"] for f in res.spark_schema.fields]
            else:
                rows = [[c.upper(), "VARCHAR", "COLUMN", "Y"] for c in res.columns]
            return Result(columns=["name", "type", "kind", "null?"], rows=rows)
        vm_ = re.match(r"^\s*DESC(?:RIBE)?\s+VIEW\s+([\w.\"$]+)\s*$", sql, re.I)
        if vm_:
            vm = self.catalog.get("VIEW", vm_.group(1), ctx.database, ctx.schema)
            from .functions.typemap import spark_to_snowflake_name

            fields = self.spark.sql(self._view_sql(vm)).schema.fields
            return Result(
                columns=["name", "type", "kind", "null?"],
                rows=[[f.name.upper(), spark_to_snowflake_name(f.dataType), "COLUMN",
                       "Y" if f.nullable else "N"] for f in fields],
            )
        fm_ = re.match(r"^\s*DESC(?:RIBE)?\s+FUNCTION\s+([\w.\"$]+)\s*(?:\([^)]*\))?\s*$",
                       sql, re.I)
        if fm_:
            f = self.catalog.get("FUNCTION", fm_.group(1), ctx.database, ctx.schema)
            rows = [["signature", f"({', '.join(f.arg_types)})"],
                    ["returns", f.return_text], ["language", "SQL"], ["body", f.body]]
            return Result(columns=["property", "value"], rows=rows)
        m = re.match(r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([\w.\"$]+)\s*$", sql, re.I)
        if not m:
            raise errors.syntax_error(sql)
        rows = self.catalog.describe_table(m.group(1), ctx.database, ctx.schema)
        return Result(
            columns=["name", "type", "kind", "null?", "default", "primary key"],
            rows=[[r["name"], r["type"], r["kind"], r["null?"], r["default"], r["primary key"]] for r in rows],
        )

    def _explain(self, sql: str, ctx: SessionContext) -> Result:
        inner = sql.strip()[7:]
        df = self.query_df(inner, ctx)
        plan = df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        return Result(columns=["plan"], rows=[[line] for line in plan.splitlines()])

    def _transaction(self, sql: str) -> Result:
        # Engine-level snapshot semantics; see Engine.begin/commit/rollback.
        raise errors.syntax_error("transaction statements must go through Engine.execute")


def _parse_ff_options(body: str) -> tuple[str, dict]:
    """The TYPE and the other options of a CREATE FILE FORMAT body."""
    fmt = "CSV"
    opts: dict = {}
    for m in re.finditer(r"(\w+)\s*=\s*('(?:[^']|'')*'|\S+)", body or ""):
        k = m.group(1).upper()
        v = m.group(2)
        if v.startswith("'"):
            v = v[1:-1].replace("''", "'")
        if k == "TYPE":
            fmt = v.upper()
        else:
            opts[k] = v
    return fmt, opts


def parse_column_defs(body: str) -> list[ColumnDef]:
    """Parse a CREATE TABLE column list (reference builds these from
    metadata in pkg/metadata/repository.go:598-654)."""
    t = Translator()
    cols: list[ColumnDef] = []
    pk_cols: set[str] = set()
    for part in t._split_args(body):
        p = part.strip()
        if not p:
            continue
        mpk = re.match(r"^PRIMARY\s+KEY\s*\(([^)]*)\)$", p, re.I)
        if mpk:
            pk_cols.update(c.strip().upper().strip('"') for c in mpk.group(1).split(","))
            continue
        if re.match(r"^(UNIQUE|FOREIGN|CONSTRAINT|CHECK)\b", p, re.I):
            continue  # constraints not enforced (Spark/parquet, like DuckDB PK-only)
        m = re.match(
            r"^([\w\"$]+)\s+([A-Za-z_]\w*(?:\s+PRECISION)?(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*(.*)$",
            p, re.S,
        )
        if not m:
            raise errors.syntax_error(f"cannot parse column definition: {p!r}")
        name = m.group(1).strip('"').upper()
        sf_type = m.group(2).strip()
        rest = m.group(3) or ""
        nullable = not re.search(r"\bNOT\s+NULL\b", rest, re.I)
        pk = bool(re.search(r"\bPRIMARY\s+KEY\b", rest, re.I))
        default = None
        dm = re.search(r"\bDEFAULT\s+(.+?)(?:\s+(?:NOT\s+NULL|NULL|PRIMARY\s+KEY|COMMENT)\b|$)", rest, re.I | re.S)
        if dm:
            default = dm.group(1).strip()
        cols.append(ColumnDef(name, sf_type, nullable=nullable, default=default, primary_key=pk))
    for c in cols:
        if c.name in pk_cols:
            c.primary_key = True
            c.nullable = False
    return cols
