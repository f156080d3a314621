"""Snowflake-shaped catalog over Spark-managed parquet tables.

Reference model (`/root/reference/pkg/metadata/repository.go`):
database -> schema -> table/stage/file-format, with unquoted identifiers
uppercased and the 3-level namespace flattened onto the engine's
2-level one (``DB.SCHEMA_TABLE``, `pkg/query/table_naming.go:23-40`).

Spark-first design decisions:

* Tables are **immutable versioned parquet directories**
  ``<base>/<DB>/<SCHEMA>/<TABLE>/v<N>``; every write (insert / update /
  delete / merge / copy) produces a new version directory under the
  table's write lock and then bumps the catalog's version pointer
  (``Catalog.write_table``). An append hard-links the live version's
  files and adds files holding only its new rows; an overwrite rewrites
  the table from the live version read inside the lock. This sidesteps
  the read-modify-overwrite self-read hazard of rewriting a parquet dir
  in place, makes concurrent readers safe, and gives BEGIN/ROLLBACK real
  semantics (restore version pointers) that the reference gets from
  DuckDB's ACID (`pkg/query/executor.go:399-426`) — see
  ``Engine.begin/commit/rollback``.
* Each table version a statement reads is a Spark temp view named
  ``__t<uid>_v<N>`` (``Catalog.register_view``); name resolution binds
  a statement's table names to the views of the versions it pinned.
* Column metadata (Snowflake type text, nullable, default, primary key)
  lives driver-side, mirroring the serialized coldefs of the reference
  (`pkg/metadata/repository.go:584-661`); Spark neither enforces PK nor
  DEFAULT, same as DuckDB-side enforcement being the reference's only
  enforcement.
"""

from __future__ import annotations

import itertools
import os
import re
import shutil
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import timezone
from typing import ClassVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import config, errors
from .functions.typemap import snowflake_to_spark, spark_to_snowflake_name
from .naming import normalize_ident, physical_name, split_qualified


# A live version holds at most FOLD_FACTOR data files per core Spark
# runs on (Catalog.max_data_files); an append that could pass that folds
# the live files and its rows into one overwrite, so a read never plans
# over a file list that grows with every INSERT. Measured on 4 cores, a
# filtered aggregate over a 200k-row table cost the same over 1 to 32
# files (171-181 ms) and 35-40% more over 64 or 128 (docs/DESIGN.md).
FOLD_FACTOR = 8


@dataclass
class ColumnDef:
    name: str
    sf_type: str
    nullable: bool = True
    default: str | None = None
    primary_key: bool = False
    # ALTER TABLE ... ALTER COLUMN c COMMENT 'x' (surfaced by DESCRIBE)
    comment: str | None = None
    # attached masking policy name (ALTER TABLE ... SET MASKING POLICY);
    # resolved in the owning table's namespace, enforced on every read
    masking_policy: str | None = None

    def spark_field(self) -> T.StructField:
        return T.StructField(self.name, snowflake_to_spark(self.sf_type), self.nullable)


def column_defs(schema: T.StructType) -> list[ColumnDef]:
    """The columns of a table made from a DataFrame (CTAS, external
    tables): each field's Snowflake type, a DECIMAL keeping its
    precision and scale."""
    return [ColumnDef(f.name, f"NUMBER({f.dataType.precision},{f.dataType.scale})"
                      if isinstance(f.dataType, T.DecimalType)
                      else spark_to_snowflake_name(f.dataType), f.nullable)
            for f in schema.fields]


@dataclass
class TableMeta:
    database: str
    schema: str
    name: str
    columns: list[ColumnDef] = field(default_factory=list)
    comment: str | None = None
    clustering_key: str | None = None
    kind: str = "TABLE"
    version: int = 0
    location: str | None = None  # base dir holding v<N> subdirs
    created_on: float = field(default_factory=time.time)
    # unique per TableMeta instance and kept through SWAP and RENAME:
    # names the table's version views (Catalog.register_view)
    uid: int = field(default_factory=itertools.count().__next__)
    # versions kept for time travel beyond the live one (the
    # DATA_RETENTION_TIME_IN_DAYS analog in an emulator whose history
    # unit is the write, not the day); ALTER TABLE ... SET
    # DATA_RETENTION_VERSIONS = n widens/narrows the AT() window
    retention_versions: int = 3
    # set when the table enters the UNDROP graveyard (SHOW TABLES
    # HISTORY surfaces it as dropped_on)
    dropped_on: float | None = None
    # attached row access policy (ALTER TABLE ... ADD ROW ACCESS POLICY
    # p ON (cols)): policy name + the table columns bound to its args
    row_access_policy: str | None = None
    row_access_columns: list[str] = field(default_factory=list)
    # DYNAMIC TABLE / MATERIALIZED VIEW: the stored SELECT that ALTER
    # ... REFRESH runs again, and the TARGET_LAG text (metadata only)
    definition: str | None = None
    target_lag: str | None = None

    def version_path(self, v: int | None = None) -> str:
        assert self.location
        return os.path.join(self.location, f"v{self.version if v is None else v}")

    def spark_schema(self) -> T.StructType:
        return T.StructType([c.spark_field() for c in self.columns])


@dataclass
class SchemaObject:
    """A schema-level object other than a table: one entry of
    ``Catalog.objects``, keyed by its kind and its (database, schema,
    name). Kinds differ only in their fields and in the three hooks
    below, which do nothing unless a kind overrides them."""
    KIND: ClassVar[str] = ""
    database: str
    schema: str
    name: str

    @property
    def key(self) -> tuple[str, str, str]:
        return (self.database, self.schema, self.name)

    def check_create(self, catalog: Catalog) -> None:
        """Raise when the name cannot be taken (caller holds the lock)."""

    def check_drop(self, catalog: Catalog) -> None:
        """Raise when a DROP by name must refuse (caller holds the lock)."""

    def dropped(self, catalog: Catalog) -> None:
        """Release what the object holds outside the catalog, once it has
        left it: by DROP, or with its schema or database."""


@dataclass
class ViewMeta(SchemaObject):
    """Named view: a stored SELECT, re-planned lazily against the
    CURRENT table versions whenever referenced (Snowflake CREATE VIEW;
    the reference declares a VIEW table type in its metadata model,
    pkg/metadata/repository.go:46, but never implements the DDL — this
    is a beyond-reference upgrade). The definition binds to the view's
    own database/schema, like Snowflake."""
    KIND: ClassVar[str] = "VIEW"
    sql_text: str
    column_names: list[str] | None = None
    comment: str | None = None

    @property
    def physical(self) -> str:
        return physical_name(self.database, self.schema, self.name) + "__view"

    def check_create(self, catalog: Catalog) -> None:
        if self.key in catalog.tables:
            raise errors.object_exists(
                f"{'.'.join(self.key)} (a table with that name exists)")

    def ddl(self) -> str:
        return f"CREATE OR REPLACE VIEW {self.name} AS {self.sql_text};"


@dataclass
class StreamMeta(SchemaObject):
    """CDC stream over a versioned table (Snowflake CREATE STREAM;
    beyond the reference). The stream's offset is a pinned version of
    the source table; reading the stream diffs the table's current
    contents against that version (``Executor._stream_ref``). The
    offset version is exempt from GC while the stream exists."""
    KIND: ClassVar[str] = "STREAM"
    src: tuple[str, str, str]
    src_uid: int
    offset_version: int
    append_only: bool = False
    comment: str | None = None

    @property
    def physical(self) -> str:
        return physical_name(self.database, self.schema, self.name) + "__stream"


@dataclass
class TaskMeta(SchemaObject):
    """CREATE TASK (beyond the reference): stored SQL with a schedule
    string. The emulator runs tasks on demand (EXECUTE TASK) — the
    stream+task+MERGE incremental-maintenance triad — rather than
    hosting a scheduler thread; SCHEDULE is carried as metadata the way
    the reference carries CLUSTER BY."""
    KIND: ClassVar[str] = "TASK"
    sql_text: str
    schedule: str | None = None
    warehouse: str | None = None
    comment: str | None = None
    state: str = "suspended"  # Snowflake tasks start suspended


@dataclass
class SequenceMeta(SchemaObject):
    """CREATE SEQUENCE (beyond reference). Snowflake sequences
    guarantee uniqueness and per-statement monotonicity but NOT
    gaplessness — which is exactly what a distributed engine can
    provide cheaply: each statement referencing NEXTVAL reserves a
    block of values up-front (one driver-side counter bump), and rows
    inside the statement draw from the block via
    monotonically_increasing_id (unique per row, executor-parallel,
    no shuffle and no coordination)."""
    KIND: ClassVar[str] = "SEQUENCE"
    start: int = 1
    increment: int = 1
    next_base: int = 0  # statements reserve [next_base, next_base+block)


@dataclass
class MaskingPolicyMeta(SchemaObject):
    """CREATE MASKING POLICY p AS (val <type>) RETURNS <type> -> <body>
    (beyond reference; Snowflake dynamic data masking). The body is a
    Snowflake-SQL expression over the single argument; the executor
    substitutes the masked column for the argument and evaluates the
    expression — including CURRENT_ROLE()-style context functions —
    with the QUERYING session's identity at read time."""
    KIND: ClassVar[str] = "MASKING POLICY"
    arg_name: str
    arg_type: str
    returns: str
    body: str
    comment: str | None = None

    def check_drop(self, catalog: Catalog) -> None:
        # Snowflake refuses to drop a policy still attached to a column
        for tm in catalog.tables.values():
            for c in tm.columns:
                if c.masking_policy and catalog.resolve(
                        c.masking_policy, tm.database, tm.schema) == self.key:
                    raise errors.execution_error(
                        f"masking policy {self.name} is attached to "
                        f"{tm.name}.{c.name}; detach it first")

    def ddl(self) -> str:
        return (f"CREATE OR REPLACE MASKING POLICY {self.name} AS "
                f"({self.arg_name} {self.arg_type}) RETURNS {self.returns} "
                f"-> {self.body};")


@dataclass
class RowAccessPolicyMeta(SchemaObject):
    """CREATE ROW ACCESS POLICY p AS (a <t> [, b <t> ...]) RETURNS
    BOOLEAN -> <predicate> (beyond reference; Snowflake row-level
    security). Attached to a table with ALTER TABLE ... ADD ROW ACCESS
    POLICY p ON (col [, col ...]); reads keep only rows where the
    predicate — evaluated with the querying session's identity — is
    true."""
    KIND: ClassVar[str] = "ROW ACCESS POLICY"
    arg_names: list[str]
    arg_types: list[str]
    body: str
    comment: str | None = None

    @property
    def signature(self) -> str:
        return "(" + ", ".join(f"{n} {t}" for n, t in zip(self.arg_names, self.arg_types)) + ")"

    def check_drop(self, catalog: Catalog) -> None:
        for tm in catalog.tables.values():
            if tm.row_access_policy and catalog.resolve(
                    tm.row_access_policy, tm.database, tm.schema) == self.key:
                raise errors.execution_error(
                    f"row access policy {self.name} is attached to "
                    f"{tm.name}; detach it first")

    def ddl(self) -> str:
        return (f"CREATE OR REPLACE ROW ACCESS POLICY {self.name} AS "
                f"{self.signature} RETURNS BOOLEAN -> {self.body};")


@dataclass
class FunctionMeta(SchemaObject):
    """CREATE FUNCTION — SQL scalar UDF (beyond reference: the
    reference's README rules UDFs out). The body is a single SQL
    expression over the named arguments; call sites are expanded by
    textual macro substitution BEFORE translation, so the body may use
    the full Snowflake function surface and the expansion stays
    JVM-side (zero runtime dispatch cost — exactly how Snowflake
    inlines SQL UDFs into the calling query plan)."""
    KIND: ClassVar[str] = "FUNCTION"
    arg_names: list[str]
    arg_types: list[str]
    returns: str
    body: str
    comment: str | None = None
    # RETURNS TABLE(col TYPE, …) — set for SQL UDTFs; the body is then a
    # SELECT inlined as a derived table at TABLE(f(…)) call sites
    table_columns: list[tuple[str, str]] | None = None
    # LANGUAGE PYTHON functions register as Spark Python UDFs instead
    # of macro-expanding; ``handler`` names the entry point in the body
    language: str = "SQL"
    handler: str | None = None

    @property
    def spark_name(self) -> str:
        """Session-wide Spark registration name of a PYTHON UDF, mangled
        with the full namespace so same-named functions in different
        schemas never clobber each other."""
        return re.sub(r"\W", "_", f"__pyudf__{self.database}__{self.schema}__{self.name}".lower())

    @property
    def return_text(self) -> str:
        if self.table_columns is None:
            return self.returns
        return "TABLE (" + ", ".join(f"{n} {t}" for n, t in self.table_columns) + ")"

    def dropped(self, catalog: Catalog) -> None:
        if self.language == "PYTHON":
            # without this the function would keep resolving after DROP
            catalog.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {self.spark_name}")

    def ddl(self) -> str:
        args = ", ".join(f"{n} {t}" for n, t in zip(self.arg_names, self.arg_types))
        head = f"CREATE OR REPLACE FUNCTION {self.name}({args}) RETURNS {self.return_text}"
        if self.language == "PYTHON":
            return f"{head} LANGUAGE PYTHON HANDLER='{self.handler}' AS $${self.body}$$;"
        return f"{head} AS $${self.body}$$;"


@dataclass
class ProcedureMeta(SchemaObject):
    """CREATE PROCEDURE ... LANGUAGE SQL: a Snowflake Scripting block
    run by CALL (plans/scripting.py)."""
    KIND: ClassVar[str] = "PROCEDURE"
    arg_names: list[str]
    arg_types: list[str]
    returns: str
    body: str

    def ddl(self) -> str:
        args = ", ".join(f"{n} {t}" for n, t in zip(self.arg_names, self.arg_types))
        return (f"CREATE OR REPLACE PROCEDURE {self.name}({args}) "
                f"RETURNS {self.returns} LANGUAGE SQL AS $${self.body}$$;")


@dataclass
class StageMeta(SchemaObject):
    """Internal stage: a directory of files (sources/stage.py)."""
    KIND: ClassVar[str] = "STAGE"
    directory: str

    def dropped(self, catalog: Catalog) -> None:
        shutil.rmtree(self.directory, ignore_errors=True)


@dataclass
class FileFormatMeta(SchemaObject):
    KIND: ClassVar[str] = "FILE FORMAT"
    format_type: str = "CSV"
    options: dict = field(default_factory=dict)


@dataclass
class PipeMeta(SchemaObject):
    """CREATE PIPE name AS COPY INTO ...: the stored COPY, run by ALTER
    PIPE ... REFRESH (Snowpipe's REFRESH trigger; no auto-ingest
    daemon in this emulator)."""
    KIND: ClassVar[str] = "PIPE"
    copy_sql: str

    def ddl(self) -> str:
        return f"CREATE OR REPLACE PIPE {self.name} AS {self.copy_sql};"


# the kinds of Catalog.objects, by their Snowflake DDL keyword
OBJECT_KINDS = {cls.KIND: cls for cls in (
    ViewMeta, StreamMeta, TaskMeta, SequenceMeta, MaskingPolicyMeta,
    RowAccessPolicyMeta, FunctionMeta, ProcedureMeta, StageMeta,
    FileFormatMeta, PipeMeta)}


class Catalog:
    """Driver-side metadata store + Spark-backed table storage."""

    def __init__(self, spark: SparkSession, base_dir: str | None = None):
        self.spark = spark
        self.base_dir = base_dir or os.path.join(
            os.environ.get("SNOWEMU_DATA_DIR", "/tmp/snowemu_warehouse"), str(os.getpid())
        )
        os.makedirs(self.base_dir, exist_ok=True)
        self._lock = threading.RLock()
        # per-table write locks, keyed by TableMeta.uid so a lock follows
        # its table through SWAP and RENAME: long-running write jobs must
        # not serialize against writes to OTHER tables (N10 analog —
        # reference serializes all writes behind one mutex,
        # connection/manager.go:39-43; per-table is the scalable design)
        self._table_locks: dict[int, threading.Lock] = {}
        # an append writes its new rows as at most one file per core
        # Spark runs on; a live version holds at most max_data_files
        self.append_files = spark.sparkContext.defaultParallelism
        self.max_data_files = FOLD_FACTOR * self.append_files
        # versions referenced by open transaction snapshots (table key
        # -> set of protected version numbers): GC must not delete them
        self._protected: dict[tuple[str, str, str], set[int]] = {}
        # read pins: (table uid, version) -> pin timestamps (see
        # pin_version_for_read below)
        self._tt_pins: dict[tuple[int, int], list[float]] = {}
        # registered version views: (table uid, version) -> the table's
        # columns when the view was registered (see register_view)
        self._views: dict[tuple[int, int], tuple] = {}
        # thread-local sink collecting table keys written by the
        # statement currently executing on this thread (set by
        # Engine.execute while a transaction is open, so ROLLBACK can
        # restore only tables the transaction itself touched)
        self._dirty_tl = threading.local()
        self.databases: dict[str, dict] = {}
        self.schemas: dict[tuple[str, str], dict] = {}
        self.tables: dict[tuple[str, str, str], TableMeta] = {}
        # UNDROP retention: most recent dropped table per key, its data
        # dir renamed aside (O(1)); replaced when the same name is
        # dropped again (older graveyard dir is purged then)
        self.dropped_tables: dict[tuple[str, str, str], TableMeta] = {}
        # every schema-level object that is not a table: kind (its DDL
        # keyword, OBJECT_KINDS) -> (database, schema, name) -> object.
        # create, get, drop and list_objects are the one way in and
        # out; DROP SCHEMA and DROP DATABASE empty it by walking it
        self.objects: dict[str, dict[tuple[str, str, str], SchemaObject]] = {
            kind: {} for kind in OBJECT_KINDS}
        # monotonic catalog-state counter, bumped on any table-data or
        # object change; view temp-view registrations cache on it so an
        # unchanged catalog costs zero Spark calls per query
        self.mutation: int = 0
        # metadata-only RBAC records: (priv, obj_type, obj_name,
        # grantee_type, grantee) — recorded + listable, not enforced
        self.grants: list[tuple[str, str, str, str, str]] = []
        # TEMPORARY tables -> owning session object (strong ref: the
        # owner is compared by identity at cleanup, and holding the
        # ref prevents CPython id-reuse confusing ownership)
        self.temp_owners: dict[tuple[str, str, str], object] = {}
        # COPY load history per table: stage-relative file -> (size,
        # mtime_ns) signature. Snowflake skips already-loaded files on
        # re-COPY unless FORCE=TRUE; keyed per table, cleared on drop.
        # In-memory for the process lifetime (Snowflake's is 64 days).
        self.copy_load_history: dict[tuple[str, str, str], dict[str, tuple]] = {}
        self._copy_locks: dict[tuple[str, str, str], threading.Lock] = {}
        # default namespace exists from the start, like the reference's
        # auto-created TEST_DB.PUBLIC (server/handlers/session.go:94-102)
        self.create_database(config.DEFAULT_DATABASE, if_not_exists=True)
        self.create_schema(config.DEFAULT_DATABASE, config.DEFAULT_SCHEMA, if_not_exists=True)

    # ---------------- databases / schemas ----------------

    def create_database(self, name: str, comment: str | None = None, if_not_exists: bool = False,
                        or_replace: bool = False) -> None:
        with self._lock:
            db = normalize_ident(name)
            if db in self.databases:
                if or_replace:
                    self.drop_database(db)
                elif if_not_exists:
                    return
                else:
                    raise errors.object_exists(db)
            self.databases[db] = {"comment": comment, "created_on": time.time()}
            self.schemas.setdefault((db, config.DEFAULT_SCHEMA), {"comment": None, "created_on": time.time()})

    def drop_database(self, name: str, if_exists: bool = False) -> None:
        with self._lock:
            db = normalize_ident(name)
            if db not in self.databases:
                if if_exists:
                    return
                raise errors.object_not_found(db)
            for key in [k for k in self.tables if k[0] == db]:
                self._drop_table_key(key)
            self.schemas = {k: v for k, v in self.schemas.items() if k[0] != db}
            self._drop_objects_in(db)
            del self.databases[db]

    def alter_database_comment(self, name: str, comment: str) -> None:
        with self._lock:
            db = normalize_ident(name)
            if db not in self.databases:
                raise errors.object_not_found(db)
            self.databases[db]["comment"] = comment

    def create_schema(self, db: str, name: str, comment: str | None = None,
                      if_not_exists: bool = False) -> None:
        with self._lock:
            db, sch = normalize_ident(db), normalize_ident(name)
            if db not in self.databases:
                raise errors.object_not_found(db)
            if (db, sch) in self.schemas:
                if if_not_exists:
                    return
                raise errors.object_exists(f"{db}.{sch}")
            self.schemas[(db, sch)] = {"comment": comment, "created_on": time.time()}

    def drop_schema(self, db: str, name: str, if_exists: bool = False) -> None:
        with self._lock:
            db, sch = normalize_ident(db), normalize_ident(name)
            if (db, sch) not in self.schemas:
                if if_exists:
                    return
                raise errors.object_not_found(f"{db}.{sch}")
            for key in [k for k in self.tables if k[0] == db and k[1] == sch]:
                self._drop_table_key(key)
            self._drop_objects_in(db, sch)
            del self.schemas[(db, sch)]

    # ---------------- schema objects other than tables ----------------

    def create(self, obj: SchemaObject, or_replace: bool = False,
               if_not_exists: bool = False) -> SchemaObject:
        """Add ``obj`` under its kind and key and return it. IF NOT
        EXISTS returns the object already there, and without OR REPLACE
        an existing one is 002002. Its schema must exist (002043)."""
        with self._lock:
            if (obj.database, obj.schema) not in self.schemas:
                raise errors.object_not_found(f"{obj.database}.{obj.schema}")
            store = self.objects[obj.KIND]
            old = store.get(obj.key)
            if old is not None:
                if if_not_exists:
                    return old
                if not or_replace:
                    raise errors.object_exists(".".join(obj.key))
            obj.check_create(self)
            store[obj.key] = obj
            self.mutation += 1
            return obj

    def get(self, kind: str, name: str, database: str | None = None,
            schema: str | None = None) -> SchemaObject:
        key = self.resolve(name, database, schema)
        obj = self.objects[kind].get(key)
        if obj is None:
            raise errors.object_not_found(".".join(key))
        return obj

    def drop(self, kind: str, name: str, database: str | None = None,
             schema: str | None = None, if_exists: bool = False) -> SchemaObject | None:
        """Remove the ``kind`` object ``name`` and return it; None when
        IF EXISTS finds none."""
        with self._lock:
            key = self.resolve(name, database, schema)
            obj = self.objects[kind].get(key)
            if obj is None:
                if if_exists:
                    return None
                raise errors.object_not_found(".".join(key))
            obj.check_drop(self)
            del self.objects[kind][key]
            self.mutation += 1
            obj.dropped(self)
            return obj

    def list_objects(self, kind: str, database: str | None = None) -> list:
        """The ``kind`` objects in key order, of ``database`` only when
        it is given."""
        with self._lock:
            return [obj for key, obj in sorted(self.objects[kind].items())
                    if database is None or key[0] == database]

    def _drop_objects_in(self, db: str, sch: str | None = None) -> None:
        """Drop every object of database ``db`` (of its schema ``sch``
        only, when given): DROP DATABASE's and DROP SCHEMA's cascade.
        Caller holds self._lock."""
        for store in self.objects.values():
            for key in [k for k in store if k[0] == db and sch in (None, k[1])]:
                store.pop(key).dropped(self)
        self.mutation += 1

    # ---------------- tables ----------------

    def resolve(self, name: str, database: str | None = None, schema: str | None = None) -> tuple[str, str, str]:
        return split_qualified(name, database, schema)

    def get_table(self, name: str, database: str | None = None, schema: str | None = None) -> TableMeta:
        key = self.resolve(name, database, schema)
        tm = self.tables.get(key)
        if tm is None:
            raise errors.object_not_found(".".join(key))
        return tm

    def has_table(self, name: str, database: str | None = None, schema: str | None = None) -> bool:
        return self.resolve(name, database, schema) in self.tables

    def create_table(self, name: str, columns: list[ColumnDef], database: str | None = None,
                     schema: str | None = None, comment: str | None = None,
                     if_not_exists: bool = False, or_replace: bool = False,
                     df: DataFrame | None = None, clustering_key: str | None = None) -> TableMeta:
        """Create a managed table; optionally seed with ``df`` (CTAS).

        The seed job runs outside the catalog lock (every session's
        table-lock lookup takes that lock) into a staging dir, renamed
        into place once the name is claimed. A table created without
        ``df`` starts as an empty v1 dir, written by no Spark job."""
        key = self.resolve(name, database, schema)
        with self._lock:
            existing = self._create_conflict(key, if_not_exists, or_replace)
        if existing is not None:
            return existing
        tm = TableMeta(*key, columns=columns, comment=comment,
                       clustering_key=clustering_key, version=1,
                       location=os.path.join(self.base_dir, *key))
        staging = f"{tm.location}.creating.{tm.uid}"
        try:
            self._write_dir(tm, df, os.path.join(staging, "v1"))
            with self._lock:
                # another session may have claimed the name meanwhile
                existing = self._create_conflict(key, if_not_exists, or_replace)
                if existing is not None:
                    return existing
                if key in self.tables:
                    self._drop_table_key(key)
                self.objects["VIEW"].pop(key, None)
                if os.path.exists(tm.location):
                    # held by a table that swapped names, or left over
                    tm.location = f"{tm.location}.{tm.uid}"
                os.rename(staging, tm.location)
                self.tables[key] = tm
                self._mark_dirty(tm)
                self.mutation += 1
            return tm
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _create_conflict(self, key: tuple[str, str, str], if_not_exists: bool,
                         or_replace: bool) -> TableMeta | None:
        """CREATE TABLE name checks (caller holds self._lock): raises if
        the name cannot be created, returns the existing table for IF
        NOT EXISTS, else None (OR REPLACE drops the old object later)."""
        db, sch, tbl = key
        if db not in self.databases:
            raise errors.object_not_found(db)
        if (db, sch) not in self.schemas:
            raise errors.object_not_found(f"{db}.{sch}")
        if key in self.tables and not or_replace:
            if if_not_exists:
                return self.tables[key]
            raise errors.object_exists(f"{db}.{sch}.{tbl}")
        if key in self.objects["VIEW"] and not or_replace:
            raise errors.object_exists(f"{db}.{sch}.{tbl} (a view with that name exists)")
        return None

    def alter_table_comment(self, name: str, comment: str, database: str | None = None,
                            schema: str | None = None) -> None:
        """ALTER TABLE ... SET COMMENT (REST v2 PUT /tables/{table};
        reference rest_api_v2.go:731-... UpdateTableComment)."""
        with self._lock:
            key = self.resolve(name, database, schema)
            if key not in self.tables:
                raise errors.object_not_found(".".join(key))
            self.tables[key].comment = comment

    def drop_table(self, name: str, database: str | None = None, schema: str | None = None,
                   if_exists: bool = False) -> None:
        with self._lock:
            key = self.resolve(name, database, schema)
            if key not in self.tables:
                if if_exists:
                    return
                raise errors.object_not_found(".".join(key))
            self._drop_table_key(key)

    def copy_table_lock(self, key: tuple[str, str, str]) -> threading.Lock:
        """Per-table mutex serializing COPY's history-check/load/record
        sequence (see CopyProcessor.execute)."""
        with self._lock:
            return self._copy_locks.setdefault(key, threading.Lock())

    def mark_table_kind(self, tm: TableMeta, kindkw: str, owner: object) -> None:
        """Apply a CREATE-time table kind (TEMP/TEMPORARY/TRANSIENT)."""
        with self._lock:
            if kindkw in ("TEMP", "TEMPORARY"):
                tm.kind = "TEMPORARY"
                self.temp_owners[(tm.database, tm.schema, tm.name)] = owner
            elif kindkw == "TRANSIENT":
                tm.kind = "TRANSIENT"
                tm.retention_versions = 1
            self.mutation += 1

    def drop_temp_tables(self, owner: object) -> list[tuple[str, str, str]]:
        """Drop every TEMPORARY table owned by ``owner`` (identity
        compare); called at session close. Returns the dropped keys."""
        with self._lock:
            keys = [k for k, o in self.temp_owners.items() if o is owner]
            for k in keys:
                self.temp_owners.pop(k, None)
                if k in self.tables:
                    self._drop_table_key(k)
            return keys

    def _drop_table_key(self, key: tuple[str, str, str]) -> None:
        """Drop table ``key`` and its version views (caller holds
        self._lock); UNDROP registers views again on first read."""
        tm = self.tables.pop(key)
        self.temp_owners.pop(key, None)
        self.copy_load_history.pop(key, None)
        self.mutation += 1
        self._drop_views(tm)
        if not tm.location or not os.path.exists(tm.location) or tm.kind == "EXTERNAL":
            return
        # UNDROP retention (Snowflake time-travel drop semantics, beyond
        # the reference): rename the data dir aside — O(1) metadata move,
        # no data copy — and keep the meta so UNDROP TABLE can restore
        # it. Only the most recent drop per name is retained.
        prev = self.dropped_tables.pop(key, None)
        if prev is not None and prev.location and os.path.exists(prev.location):
            shutil.rmtree(prev.location, ignore_errors=True)
        grave = f"{tm.location}.dropped.{tm.uid}"
        try:
            os.rename(tm.location, grave)
        except OSError:
            shutil.rmtree(tm.location, ignore_errors=True)
            return
        tm.location = grave
        tm.dropped_on = time.time()
        self.dropped_tables[key] = tm

    def undrop_table(self, name: str, database: str | None = None,
                     schema: str | None = None) -> TableMeta:
        """UNDROP TABLE: restore the most recently dropped table of this
        name from its renamed-aside data dir (zero data movement unless
        the canonical path is free again, in which case it is renamed
        back). Errors if an object of the name currently exists, like
        Snowflake."""
        with self._lock:
            key = self.resolve(name, database, schema)
            if key in self.tables:
                raise errors.object_exists(".".join(key))
            tm = self.dropped_tables.pop(key, None)
            if tm is None:
                raise errors.object_not_found(".".join(key))
            canonical = os.path.join(self.base_dir, *key)
            if not os.path.exists(canonical):
                try:
                    os.rename(tm.location, canonical)
                    tm.location = canonical
                except OSError:
                    pass  # keep serving from the graveyard dir
            tm.dropped_on = None
            self.tables[key] = tm
            # a read racing the DROP may have registered a view over the
            # graveyard path
            self._drop_views(tm)
            self.mutation += 1
            return tm

    def clone_table(self, src: TableMeta, dst_name: str, database: str | None = None,
                    schema: str | None = None, at_version: int | None = None,
                    if_not_exists: bool = False, or_replace: bool = False) -> TableMeta:
        """CREATE TABLE ... CLONE — zero-copy clone (beyond the
        reference; Snowflake-signature feature that falls out of the
        immutable version-dir design): hard-link the source version's
        parquet files into the clone's v1. O(files) metadata work, no
        data bytes moved — the only viable clone at 100 TB. Combined
        with AT(VERSION|OFFSET|TIMESTAMP => ...) it clones a historical
        version. Subsequent writes to either table diverge naturally
        because every write creates a fresh version dir; a hard-linked
        file is never modified, only linked again or unlinked."""
        import copy as _copy
        with self._lock:
            db, sch, tbl = self.resolve(dst_name, database, schema)
            if (db, sch, tbl) in self.tables:
                if or_replace:
                    self._drop_table_key((db, sch, tbl))
                elif if_not_exists:
                    return self.tables[(db, sch, tbl)]
                else:
                    raise errors.object_exists(f"{db}.{sch}.{tbl}")
            tm = TableMeta(db, sch, tbl, columns=_copy.deepcopy(src.columns),
                           comment=src.comment, clustering_key=src.clustering_key,
                           location=os.path.join(self.base_dir, db, sch, tbl),
                           version=1,
                           # Snowflake: a clone retains the source's
                           # masking (deep-copied columns) AND row
                           # access policy associations
                           row_access_policy=src.row_access_policy,
                           row_access_columns=list(src.row_access_columns))
            src_dir = src.version_path(at_version)
            if not os.path.isdir(src_dir):
                raise errors.execution_error(
                    f"clone source version not available: {src_dir}")
            dst_dir = tm.version_path(1)
            os.makedirs(dst_dir, exist_ok=True)
            self._link_files(src_dir, dst_dir)
            self.tables[(db, sch, tbl)] = tm
            self.mutation += 1
            return tm

    def rename_table(self, name: str, new_name: str, database: str | None = None,
                     schema: str | None = None) -> None:
        """ALTER TABLE ... RENAME TO: a metadata-only move of the
        TableMeta, like ``swap_tables``; its versions, views, kind,
        clustering key, comment, policies and streams go with it."""
        old = self.resolve(name, database, schema)
        new = self.resolve(new_name, database, schema)
        with self._lock:
            tm = self.tables.get(old)
            if tm is None:
                raise errors.object_not_found(".".join(old))
            self._create_conflict(new, if_not_exists=False, or_replace=False)
            del self.tables[old]
            tm.database, tm.schema, tm.name = new
            self.tables[new] = tm
            for store in (self.temp_owners, self.copy_load_history):
                if old in store:
                    store[new] = store.pop(old)
            for sm in self.objects["STREAM"].values():
                if sm.src == old and sm.src_uid == tm.uid:
                    sm.src = new
            self.mutation += 1

    def read_table(self, tm: TableMeta, version: int | None = None) -> DataFrame:
        """Version ``version`` of ``tm`` (None: the live one)."""
        if tm.kind == "EXTERNAL":
            return getattr(tm, "read_df")
        return self.spark.read.schema(tm.spark_schema()).parquet(tm.version_path(version))

    def conform(self, tm: TableMeta, df: DataFrame) -> DataFrame:
        """Cast ``df`` column-by-column, positionally, to the table's
        declared schema (Snowflake/DuckDB-style implicit cast on
        INSERT)."""
        target = tm.spark_schema().fields
        if not target:
            return df
        if len(df.schema.fields) > len(target):
            # zip truncation would silently DISCARD the extra values;
            # Snowflake raises 'too many values'
            raise errors.execution_error(
                f"INSERT has more expressions than target columns "
                f"({len(df.schema.fields)} vs {len(target)})")
        if len(df.schema.fields) != len(target):
            raise errors.execution_error(
                f"column count mismatch for {tm.name}: got {len(df.schema.fields)}, want {len(target)}"
            )
        # renamed by position first: a source column may be named like
        # an expression, `(1.5 + 1)`, or twice, `1`, `1`
        renamed = df.toDF(*[f.name for f in target])
        return renamed.select(*[
            renamed["`" + f.name.replace("`", "``") + "`"].cast(f.dataType).alias(f.name)
            for f in target])

    def _layout(self, tm: TableMeta, df: DataFrame, files: int | None = None) -> DataFrame:
        """Partition ``df`` for writing; ``files`` caps the files written.

        CLUSTER BY: co-locate rows sharing the clustering key so
        downstream equi-joins/aggs on it avoid a shuffle (the reference
        stores the key as metadata only,
        pkg/metadata/repository.go:135-146 — we act on it)."""
        if tm.clustering_key:
            keys = [k.strip() for k in tm.clustering_key.split(",") if k.strip()]
            try:
                return (df.repartition(*([files] if files else []), *keys)
                        .sortWithinPartitions(*keys))
            except Exception:
                pass  # bad key: fall back to unclustered write
        return df.coalesce(files) if files else df

    def _write_dir(self, tm: TableMeta, df: DataFrame | None, path: str,
                   files: int | None = None) -> None:
        """Write ``df`` as the parquet files of version dir ``path``.
        None is an empty table: an empty dir, which Spark reads with
        the table's schema as zero rows."""
        if df is None:
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            return
        self._layout(tm, self.conform(tm, df), files).write.mode("overwrite").parquet(path)

    @staticmethod
    def _data_files(path: str) -> list[str]:
        """Data files of a version dir (Spark ignores names that start
        with '_' or '.': _SUCCESS and checksums)."""
        return [f for f in os.listdir(path) if not f.startswith(("_", "."))]

    @classmethod
    def _link_files(cls, src_dir: str, dst_dir: str) -> None:
        for fname in cls._data_files(src_dir):
            s, d = os.path.join(src_dir, fname), os.path.join(dst_dir, fname)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)

    def _publish(self, tm: TableMeta, version: int) -> None:
        """Swap the live-version pointer to a fully written version dir,
        whose view is registered first."""
        self.register_view(tm, version)
        with self._lock:
            tm.version = version
            # after the swap, so a reader that sees the new count also
            # reads the new version
            self.mutation += 1
        self._mark_dirty(tm)
        self._gc_versions(tm)

    def _table_lock(self, tm: TableMeta) -> threading.Lock:
        with self._lock:
            return self._table_locks.setdefault(tm.uid, threading.Lock())

    def swap_tables(self, name_a: str, name_b: str,
                    database: str | None = None, schema: str | None = None) -> None:
        """ALTER TABLE a SWAP WITH b (Snowflake): atomically exchange the
        two tables' contents AND metadata. Pure pointer swap — the
        TableMeta objects (location, versions, columns, uid) trade
        catalog keys and identity fields; no data is read or rewritten,
        exactly like Snowflake's metadata-only swap. Write locks and
        version views belong to the uid, so both follow their table.
        DDL is non-transactional (Snowflake: implicit commit), so an
        open transaction's per-key snapshots intentionally track the
        KEY, not the swapped object."""
        key_a = self.resolve(name_a, database, schema)
        key_b = self.resolve(name_b, database, schema)
        if key_a == key_b:
            raise errors.execution_error(
                f"cannot swap table {'.'.join(key_a)} with itself")
        with self._lock:
            ta = self.tables.get(key_a)
            tb = self.tables.get(key_b)
            if ta is None:
                raise errors.object_not_found(".".join(key_a))
            if tb is None:
                raise errors.object_not_found(".".join(key_b))
            self.tables[key_a], self.tables[key_b] = tb, ta
            (tb.database, tb.schema, tb.name) = key_a
            (ta.database, ta.schema, ta.name) = key_b
            self.mutation += 1

    def write_table(self, tm: TableMeta,
                    rows: DataFrame | Callable[[DataFrame], DataFrame | None],
                    check: Callable[[], None] | None = None) -> int | None:
        """The one table-write primitive: build version N+1 of ``tm``
        under the table's write lock, then swap the pointer to it.

        * append, ``rows`` a DataFrame of new rows: v(N+1) holds hard
          links to every data file of v(N) plus files of the new rows
          only (clustered like any write), and the live version is never
          read. Rows Spark's optimizer has already folded onto the driver
          (``_driver_rows``: VALUES and its casts) are taken before the
          lock and written as one parquet file by pyarrow, with no Spark
          job; any other rows by one Spark job. An append that could
          leave more than ``max_data_files`` files folds the live files
          and the new rows into an overwrite instead. Returns the number
          of rows appended.
        * overwrite, ``rows`` a function of the live DataFrame, called
          inside the lock, that returns the new contents (None: empty).
          Because the live version is read under the lock, a
          read-modify-write (UPDATE, DELETE, MERGE) cannot lose a
          concurrent write to the same table. Returns None.

        ``check`` runs after the Spark job, still inside the lock: an
        error it raises discards v(N+1) unpublished (strict MERGE's
        nondeterministic-match check reads the job's Observation).

        Holds only this table's write lock for the duration of the
        write, so concurrent writes to different tables proceed in
        parallel."""
        if tm.kind == "EXTERNAL" or not tm.location:
            raise errors.execution_error(
                f"cannot write to external table {tm.name}")
        new = local = obs = None
        if not callable(rows):
            schema = tm.spark_schema()
            new, local, obs = self._new_rows(tm, rows)
        with self._table_lock(tm):
            if new is not None and tm.spark_schema() != schema:
                # a column DDL (RENAME/DROP COLUMN) changed the columns
                # inside this lock after the rows were conformed
                new, local, obs = self._new_rows(tm, rows)
            live_dir, version = tm.version_path(), tm.version + 1
            path = tm.version_path(version)
            try:
                if callable(rows):
                    self._write_dir(tm, rows(self.read_table(tm)), path)
                elif (len(self._data_files(live_dir)) + self.append_files
                      <= self.max_data_files):
                    # an abandoned dir from a rolled-back write may sit
                    # at this version number: linking into it as-is
                    # would resurrect the rolled-back rows
                    shutil.rmtree(path, ignore_errors=True)
                    os.makedirs(path)
                    self._link_files(live_dir, path)
                    if local is not None:
                        import pyarrow.parquet as pq

                        pq.write_table(local, os.path.join(
                            path, f"part-{uuid.uuid4()}.parquet"))
                    else:
                        self._layout(tm, new, self.append_files).write.mode("append").parquet(path)
                else:
                    self._write_dir(tm, self.read_table(tm).unionByName(new),
                                    path, self.append_files)
                if check is not None:
                    check()
            except BaseException:
                shutil.rmtree(path, ignore_errors=True)
                raise
            self._publish(tm, version)
        if local is not None:
            return local.num_rows
        return None if obs is None else int(obs.get["n"])

    def _new_rows(self, tm: TableMeta, df: DataFrame):
        """The rows ``df`` to append, conformed to ``tm``'s columns, as
        ``(conformed, driver_rows, count)``: ``driver_rows`` the
        ``_driver_rows`` table or None, and ``count`` an Observation of
        the Spark write when they are not on the driver."""
        new = self.conform(tm, df)
        local = self._driver_rows(tm, new)
        if local is not None:
            return new, local, None
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        return new.observe(obs, F.count(F.lit(1)).alias("n")), None, obs

    def _driver_rows(self, tm: TableMeta, df: DataFrame):
        """The conformed rows ``df`` as a ``pyarrow.Table``, if they are
        already on the driver: Spark's optimizer has folded them into a
        LocalRelation (VALUES and the casts of ``conform``), so
        ``collect()`` starts no Spark job. A Spark job costs a few
        hundred ms however few rows it writes. None when the rows need
        a job, and for a CLUSTER BY table, whose files ``_layout`` sorts.

        ``collect()`` returns TIMESTAMP_LTZ/TZ values as naive local
        datetimes; they become aware UTC ones, so the file holds the
        instants Spark would have written."""
        if tm.clustering_key or (df._jdf.queryExecution().optimizedPlan()
                                 .getClass().getSimpleName() != "LocalRelation"):
            return None
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        spark_schema = tm.spark_schema()
        # every column nullable, as Spark writes it: NOT NULL is not
        # enforced on INSERT
        schema = pa.schema([f.with_nullable(True) for f in to_arrow_schema(spark_schema)])
        try:
            arrays = []
            for values, field, typ in zip(list(zip(*df.collect())) or [()] * len(schema),
                                          spark_schema.fields, schema.types):
                if isinstance(field.dataType, T.TimestampType):
                    values = [None if v is None else v.astimezone(timezone.utc)
                              for v in values]
                arrays.append(pa.array(values, typ))
            return pa.Table.from_arrays(arrays, schema=schema)
        except (ValueError, OverflowError):
            # a value outside Python's datetime range (years 1-9999
            # after the local-time conversion): Spark writes it
            return None

    # the former COPY entry point; perfbench/tracing.py wraps it by name
    append_files_fast = write_table

    # ---------------- version views and read pins ----------------
    # (docs/DESIGN.md, "Reads pin their version"). GC chooses and deletes
    # versions under self._lock, the lock a pin is taken under, so no
    # read pins a version GC has chosen. A pin older than _READ_PIN_TTL
    # seconds is ignored by GC, so a leaked one cannot hold disk forever.

    _READ_PIN_TTL = 600.0

    def register_view(self, tm: TableMeta, version: int | None = None) -> str:
        """Register the temp view over version ``version`` of ``tm``
        (None: the live one), read with the table's current columns,
        and return its name."""
        v = tm.version if version is None else version
        columns = self._columns(tm)
        name = f"__t{tm.uid}_v{v}"
        self.read_table(tm, v).createOrReplaceTempView(name)
        self._views[(tm.uid, v)] = columns
        return name

    def version_view(self, tm: TableMeta, version: int) -> str:
        """The temp view over ``version`` of ``tm``, which the caller has
        pinned: registered here on its first read, and again once the
        table's columns have changed since it was."""
        if self._views.get((tm.uid, version)) != self._columns(tm):
            return self.register_view(tm, version)
        return f"__t{tm.uid}_v{version}"

    @staticmethod
    def _columns(tm: TableMeta) -> tuple:
        """What ``tm.spark_schema()`` is built from, cheap to compare."""
        return tuple((c.name, c.sf_type, c.nullable) for c in tm.columns)

    def _drop_views(self, tm: TableMeta, versions: list[int] | None = None) -> None:
        """Drop the views of ``versions`` of ``tm`` (None: all of them)."""
        if versions is None:
            versions = [v for uid, v in list(self._views) if uid == tm.uid]
        for v in versions:
            if self._views.pop((tm.uid, v), None) is not None:
                self.spark.catalog.dropTempView(f"__t{tm.uid}_v{v}")

    def pin_version_for_read(self, tm: TableMeta, version: int | None = None) -> int:
        """Pin ``version`` of ``tm`` (None: the live one) for a read and
        return it. Raises when GC has already deleted the version."""
        with self._lock:
            v = tm.version if version is None else version
            if tm.location and not os.path.isdir(tm.version_path(v)):
                raise errors.time_travel_unavailable(tm.name)
            self._tt_pins.setdefault((tm.uid, v), []).append(time.time())
            return v

    def unpin_version_for_read(self, tm: TableMeta, version: int) -> None:
        with self._lock:
            stamps = self._tt_pins.get((tm.uid, version))
            if stamps:
                stamps.pop()
                if not stamps:
                    del self._tt_pins[(tm.uid, version)]

    def _gc_versions(self, tm: TableMeta) -> None:
        """Delete the version dirs of ``tm`` older than its newest
        ``retention_versions``, with their views, except the live version
        and those pinned by reads, stream offsets and open transactions."""
        keep = max(1, tm.retention_versions)
        if not tm.location or not os.path.isdir(tm.location):
            return
        with self._lock:
            self._delete_versions(
                tm, [v for v in self.versions(tm)[:-keep] if v != tm.version])

    @staticmethod
    def versions(tm: TableMeta) -> list[int]:
        """The version numbers of ``tm`` on disk, ascending."""
        return sorted(int(d[1:]) for d in os.listdir(tm.location or "")
                      if re.fullmatch(r"v\d+", d))

    def _delete_versions(self, tm: TableMeta, versions: list[int]) -> None:
        """Delete the dirs and views of ``versions`` of ``tm``, except
        those pinned by reads, stream offsets and open transactions
        (caller holds ``self._lock``)."""
        key = (tm.database, tm.schema, tm.name)
        now = time.time()
        protected = (self._protected.get(key, set()) | self._stream_pins(key)
                     | {v for (uid, v), stamps in self._tt_pins.items()
                        if uid == tm.uid and now - stamps[-1] < self._READ_PIN_TTL})
        doomed = [v for v in versions if v not in protected]
        for v in doomed:
            shutil.rmtree(os.path.join(tm.location, f"v{v}"), ignore_errors=True)
        self._drop_views(tm, doomed)

    def set_protected_versions(self, protected: dict[tuple[str, str, str], set[int]] | None) -> None:
        """Versions pinned by open transaction snapshots (union over all
        open transactions; pass None/{} to clear). Protected versions
        are exempt from GC."""
        with self._lock:
            self._protected = {k: set(v) for k, v in (protected or {}).items()}

    # ---------------- dirty-table capture (transactions) ----------------

    def begin_dirty_capture(self, sink: set[tuple[str, str, str]]) -> None:
        """Route this thread's subsequent table writes into ``sink`` so
        the owning transaction learns which tables it modified."""
        self._dirty_tl.sink = sink

    def end_dirty_capture(self) -> None:
        self._dirty_tl.sink = None

    def _mark_dirty(self, tm: TableMeta) -> None:
        sink = getattr(self._dirty_tl, "sink", None)
        if sink is not None:
            sink.add((tm.database, tm.schema, tm.name))

    # ---------------- version snapshots (transactions) ----------------

    def snapshot_versions(self) -> dict[tuple[str, str, str], int]:
        with self._lock:
            return {k: tm.version for k, tm in self.tables.items()}

    def snapshot_load_history(self) -> dict[tuple[str, str, str], dict]:
        """Per-table COPY load-history snapshot, taken at BEGIN so a
        ROLLBACK can revert the history entries alongside the data —
        otherwise a rolled-back COPY leaves its files marked loaded and
        the retry silently reports LOAD_SKIPPED."""
        with self._lock:
            return {k: dict(v) for k, v in self.copy_load_history.items()}

    def restore_load_history(self, snap: dict[tuple[str, str, str], dict],
                             keys: set[tuple[str, str, str]]) -> None:
        """Restore COPY load history for ``keys`` (the transaction's
        dirty tables) to its snapshotted state."""
        with self._lock:
            for key in keys:
                prior = snap.get(key)
                if prior is None:
                    self.copy_load_history.pop(key, None)
                else:
                    # replace contents in place: copy_into holds a live
                    # reference from setdefault()
                    live = self.copy_load_history.setdefault(key, {})
                    live.clear()
                    live.update(prior)

    def restore_versions(self, snap: dict[tuple[str, str, str], int]) -> None:
        """Best-effort rollback: restore version pointers for tables that
        still exist and whose snapshotted version dir is still on disk,
        and delete the versions rolled back past (the next write clears
        a pinned one), so time travel cannot read them.

        Takes each table's write lock before ``self._lock``, in the order
        ``write_table`` and ``_publish`` take them, so no write is
        building a version from the dirs it deletes."""
        for key, v in snap.items():
            with self._lock:
                tm = self.tables.get(key)
            if tm is None:
                continue
            with self._table_lock(tm), self._lock:
                live = tm.version
                if (self.tables.get(key) is tm and live != v
                        and os.path.isdir(tm.version_path(v))):
                    tm.version = v
                    self.mutation += 1
                    self._delete_versions(
                        tm, [x for x in self.versions(tm) if v < x <= live])

    # ---------------- streams and sequences ----------------

    def advance_stream(self, sm: StreamMeta) -> None:
        """Move the stream offset to the source table's current version
        (called after a DML that consumed the stream commits)."""
        with self._lock:
            tm = self.tables.get(sm.src)
            if tm is not None and tm.uid == sm.src_uid:
                sm.offset_version = tm.version

    def _stream_pins(self, key: tuple[str, str, str]) -> set[int]:
        """Versions of table ``key`` pinned as stream offsets."""
        return {sm.offset_version for sm in self.objects["STREAM"].values()
                if sm.src == key}

    # per-statement NEXTVAL block: monotonically_increasing_id is
    # structured as partitionId * 2^33 + rowInPartition, so a block
    # must cover the largest id a statement can emit — 2^48 covers
    # 32k partitions x 8.5e9 rows/partition, leaving 2^15 NEXTVAL
    # statements in the int64 value space at increment 1. Exhaustion
    # overflows loudly under ANSI mode rather than wrapping silently.
    SEQUENCE_BLOCK = 1 << 48

    def next_sequence_value(self, sm: SequenceMeta) -> int:
        """Draw ONE value (driver-side; used for inline VALUES rows,
        where Spark forbids nondeterministic expressions)."""
        with self._lock:
            val = sm.start + sm.next_base * sm.increment
            sm.next_base += 1
            return val

    def reserve_sequence_block(self, sm: SequenceMeta) -> int:
        """Reserve one statement's value block; returns the first value
        of the block (a single counter bump under the catalog lock —
        rows then draw values executor-side without coordination)."""
        with self._lock:
            base = sm.start + sm.next_base * sm.increment
            sm.next_base += self.SEQUENCE_BLOCK
            return base

    # ---------------- external registration (driver fixtures) ----------------

    def register_external_source(self, name: str, path: str, fmt: str = "PARQUET",
                                 options: dict | None = None,
                                 database: str | None = None,
                                 schema: str | None = None,
                                 or_replace: bool = False) -> TableMeta:
        """CREATE EXTERNAL TABLE: a read-only table over files at
        ``path`` (a resolved stage directory). The file list snapshots
        at CREATE (Snowflake external tables do the same — new files
        appear after ALTER EXTERNAL TABLE ... REFRESH, see
        ``refresh_external``). Reads are zero-copy Spark scans of the
        stage directory; writes are rejected by the EXTERNAL kind."""
        options = options or {}
        with self._lock:
            db, sch, tbl = self.resolve(name, database, schema)
            if (db, sch, tbl) in self.tables and not or_replace:
                raise errors.object_exists(".".join((db, sch, tbl)))
            df = self._read_external(path, fmt.upper(), options)
            if (db, sch, tbl) in self.tables:
                self._drop_table_key((db, sch, tbl))
            cols = column_defs(df.schema)
            tm = TableMeta(db, sch, tbl, columns=cols, kind="EXTERNAL", version=1,
                           location=None)
            tm.read_df = df  # type: ignore[attr-defined]
            tm.external_path = path  # type: ignore[attr-defined]
            tm.external_format = fmt.upper()  # type: ignore[attr-defined]
            tm.external_options = dict(options)  # type: ignore[attr-defined]
            self.tables[(db, sch, tbl)] = tm
            self.mutation += 1
            return tm

    def refresh_external(self, tm: TableMeta) -> None:
        """ALTER EXTERNAL TABLE ... REFRESH: re-snapshot the file list
        (and schema) from the external location."""
        with self._lock:
            if tm.kind != "EXTERNAL" or not getattr(tm, "external_path", None):
                raise errors.invalid_parameter(f"{tm.name} is not an external table")
            df = self._read_external(tm.external_path, tm.external_format,
                                     tm.external_options)
            tm.columns = column_defs(df.schema)
            tm.read_df = df  # type: ignore[attr-defined]
            # a new version: reads register a view over the new file list
            self._drop_views(tm, [tm.version])
            tm.version += 1
            self.mutation += 1

    def _read_external(self, path: str, fmt: str, options: dict) -> DataFrame:
        if fmt == "PARQUET":
            return self.spark.read.parquet(path)
        if fmt == "ORC":
            return self.spark.read.orc(path)
        if fmt == "JSON":
            return self.spark.read.json(path)
        if fmt == "CSV":
            skip_header = int(options.get("SKIP_HEADER", "1") or 0)
            return (self.spark.read
                    .option("header", "true" if skip_header >= 1 else "false")
                    .option("sep", options.get("FIELD_DELIMITER", ","))
                    .option("inferSchema", "true").csv(path))
        if fmt == "XML":
            return (self.spark.read.format("xml")
                    .option("rowTag", options.get("ROW_TAG", "row")).load(path))
        raise errors.invalid_parameter(f"unsupported external table format: {fmt}")

    def register_external_parquet(self, name: str, path: str, database: str | None = None,
                                  schema: str | None = None) -> TableMeta:
        """Register a read-only external parquet file as a catalog table
        (used to expose the driver's /root/testdata fixtures as
        TEST_DB.PUBLIC_<NAME> per FIXTURES.md §2)."""
        with self._lock:
            db, sch, tbl = self.resolve(name, database, schema)
            df = self.spark.read.parquet(path)
            if (db, sch, tbl) in self.tables:
                self._drop_table_key((db, sch, tbl))
            cols = column_defs(df.schema)
            tm = TableMeta(db, sch, tbl, columns=cols, kind="EXTERNAL", version=1,
                           location=None)
            tm.read_df = df  # type: ignore[attr-defined]
            self.tables[(db, sch, tbl)] = tm
            return tm

    def describe_table(self, name: str, database: str | None = None, schema: str | None = None) -> list[dict]:
        tm = self.get_table(name, database, schema)
        return [
            {
                "name": c.name,
                "type": c.sf_type.upper(),
                "kind": "COLUMN",
                "null?": "Y" if c.nullable else "N",
                "default": c.default,
                "primary key": "Y" if c.primary_key else "N",
            }
            for c in tm.columns
        ]
