"""COPY INTO <table> FROM @stage — bulk file ingest.

Reference: `/root/reference/pkg/query/copy_processor.go` (grammar
62-73/110-212, execution 217-296, CSV 301-375, JSON 378-445). Key
differences in our Spark build, by design:

* **Bulk loads, not per-row INSERTs.** The reference issues one INSERT
  per record (copy_processor.go:365-372) — its standout inefficiency
  (BASELINE.md). We read each file with ``spark.read`` and append all
  files of one COPY with one `Catalog.write_table`: the new version
  hard-links the live version's files and adds the parquet files of the
  load, so a load is O(new data) and fully parallel — the only ingest
  pattern that survives 100 TB.
* PARQUET is supported (the reference declares the format type but
  rejects it, copy_processor.go:266-268).
* ON_ERROR maps to Spark read modes: CONTINUE -> DROPMALFORMED,
  ABORT/ABORT_STATEMENT -> FAILFAST + raise, SKIP_FILE -> per-file
  try/except.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import errors
from ..catalog import Catalog, TableMeta
from ..result import Result

# COPY INTO @stage FROM ... (UNLOAD/export — beyond reference; neither
# the reference nor its DuckDB backend implements unloading). The write
# is a plain distributed df.write in the requested format: at 100 TB
# each executor streams its partitions straight into the stage dir.
_UNLOAD_RE = re.compile(
    r"^\s*COPY\s+INTO\s+@([\w.\"$]+)((?:/[^\s]*)?)\s+FROM\s+", re.I | re.S
)


def _split_unload_source(remainder: str) -> tuple[str, str]:
    """Split '<(SELECT ...)|table> [options...]' at the source boundary
    (balanced-paren scan, string-literal aware)."""
    s = remainder.strip()
    if s.startswith("("):
        depth, i = 0, 0
        while i < len(s):
            c = s[i]
            if c == "'":  # skip string literal ('' escapes)
                i += 1
                while i < len(s):
                    if s[i] == "'" and not (i + 1 < len(s) and s[i + 1] == "'"):
                        break
                    i += 2 if s[i] == "'" else 1
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    return s[: i + 1], s[i + 1:]
            i += 1
        raise errors.syntax_error("unbalanced parentheses in COPY INTO @stage FROM (...)")
    m = re.match(r"[\w.\"$]+", s)
    if not m:
        raise errors.syntax_error(f"cannot parse unload source: {s[:60]}")
    return m.group(0), s[m.end():]
_HEADER_RE = re.compile(r"\bHEADER\s*=\s*(TRUE|FALSE)", re.I)
_OVERWRITE_RE = re.compile(r"\bOVERWRITE\s*=\s*(TRUE|FALSE)", re.I)

_COPY_RE = re.compile(
    r"^\s*COPY\s+INTO\s+([\w.\"$]+)\s+FROM\s+@([\w.\"$]+)((?:/[^\s]*)?)\s*(.*)$",
    re.I | re.S,
)
# COPY transformation (real Snowflake; the reference has no transform
# path): COPY INTO t FROM (SELECT $1, TRIM($2), … FROM @stage[/path])
_COPY_XFORM_RE = re.compile(
    r"^\s*COPY\s+INTO\s+([\w.\"$]+)\s+FROM\s*\(\s*SELECT\s+(.*?)\s+FROM\s+@([\w.\"$]+)"
    r"((?:/[^\s)]*)?)\s*\)\s*(.*)$",
    re.I | re.S,
)
_FF_INLINE_OPEN_RE = re.compile(r"FILE_FORMAT\s*=\s*\(", re.I)
_PATTERN_RE = re.compile(r"PATTERN\s*=\s*'((?:[^']|'')*)'", re.I)
_ON_ERROR_RE = re.compile(r"ON_ERROR\s*=\s*'?(\w+)'?", re.I)
_PURGE_RE = re.compile(r"PURGE\s*=\s*(TRUE|FALSE)", re.I)
_FORCE_RE = re.compile(r"FORCE\s*=\s*(TRUE|FALSE)", re.I)
_VALIDATION_RE = re.compile(r"VALIDATION_MODE\s*=\s*'?(\w+)'?", re.I)


@dataclass
class CopyStatement:
    table: str
    stage: str
    path: str = ""
    format_type: str = "CSV"
    options: dict = field(default_factory=dict)
    pattern: str | None = None
    on_error: str = "ABORT_STATEMENT"
    purge: bool = False
    force: bool = False
    validation_mode: str | None = None
    # COPY transformation select list ($N positional references)
    select_exprs: str | None = None


def parse_copy(sql: str) -> CopyStatement:
    xm = _COPY_XFORM_RE.match(sql.strip().rstrip(";"))
    if xm:
        stmt = CopyStatement(table=xm.group(1), stage=xm.group(3),
                             path=(xm.group(4) or "").lstrip("/"),
                             select_exprs=xm.group(2).strip())
        rest = xm.group(5) or ""
        return _parse_copy_options(stmt, rest)
    m = _COPY_RE.match(sql.strip().rstrip(";"))
    if not m:
        raise errors.syntax_error(f"cannot parse COPY INTO: {sql[:80]}")
    stmt = CopyStatement(table=m.group(1), stage=m.group(2), path=(m.group(3) or "").lstrip("/"))
    rest = m.group(4) or ""
    return _parse_copy_options(stmt, rest)


def _parse_copy_options(stmt: CopyStatement, rest: str) -> CopyStatement:
    fm = _FF_INLINE_OPEN_RE.search(rest)
    if fm:
        # paren-AWARE body extraction: [^)]* stopped at the first ')'
        # so list-valued options (NULL_IF=('NULL','N/A')) were truncated
        from ..plans.translator import match_paren

        close = match_paren(rest, fm.end() - 1)
        body = rest[fm.end():close] if close > 0 else rest[fm.end():]
        for om in re.finditer(
                r"(\w+)\s*=\s*(\((?:[^()']|'(?:[^']|'')*')*\)|'(?:[^']|'')*'|[^\s,)]+)",
                body):
            k = om.group(1).upper()
            v = om.group(2)
            if v.startswith("("):
                # list value: parse each quoted element
                stmt.options[k] = [
                    e.group(1).replace("''", "'")
                    for e in re.finditer(r"'((?:[^']|'')*)'", v)]
                continue
            if v.startswith("'"):
                v = v[1:-1].replace("''", "'")
            if k == "TYPE":
                stmt.format_type = v.upper()
            elif k == "FORMAT_NAME":
                stmt.options["FORMAT_NAME"] = v
            else:
                stmt.options[k] = v
    pm = _PATTERN_RE.search(rest)
    if pm:
        stmt.pattern = pm.group(1)
    em = _ON_ERROR_RE.search(rest)
    if em:
        stmt.on_error = em.group(1).upper()
    gm = _PURGE_RE.search(rest)
    if gm:
        stmt.purge = gm.group(1).upper() == "TRUE"
    fo = _FORCE_RE.search(rest)
    if fo:
        stmt.force = fo.group(1).upper() == "TRUE"
    vm = _VALIDATION_RE.search(rest)
    if vm:
        stmt.validation_mode = vm.group(1).upper()
    return stmt


class CopyProcessor:
    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog

    def execute(self, sql: str, ctx, query_df=None) -> Result:
        um = _UNLOAD_RE.match(sql.strip().rstrip(";"))
        if um:
            return self._unload(um, ctx, query_df)
        stmt = parse_copy(sql)
        tm = self.catalog.get_table(stmt.table, ctx.database, ctx.schema)
        # per-table COPY mutex: the load-history check -> load -> record
        # sequence must be atomic or two concurrent identical COPYs both
        # see an empty history and double-load (Snowflake dedups)
        with self.catalog.copy_table_lock((tm.database, tm.schema, tm.name)):
            return self._execute_load(stmt, tm, ctx)

    def _execute_load(self, stmt: CopyStatement, tm: TableMeta, ctx) -> Result:
        stage = self.catalog.get("STAGE", stmt.stage, ctx.database, ctx.schema)
        if "FORMAT_NAME" in stmt.options:
            ff = self.catalog.get("FILE FORMAT", stmt.options["FORMAT_NAME"], ctx.database, ctx.schema)
            stmt.format_type = ff.format_type
            merged = dict(ff.options)
            merged.update({k: v for k, v in stmt.options.items() if k != "FORMAT_NAME"})
            stmt.options = merged

        from ..sources.stage import StageManager

        sm = StageManager(self.catalog)
        # regex pattern per Snowflake; the reference uses path glob
        # (stage/manager.go:165-218 + filepath.Match) — accept both.
        files = sm.list_files(stage, prefix=stmt.path or None)
        # skip Spark/Hadoop metadata files (_SUCCESS, .crc, .part-*):
        # a stage an unload wrote into contains them, and they are
        # never loadable data
        files = [f for f in files if not os.path.basename(f).startswith((".", "_"))]
        if stmt.pattern:
            try:
                rx = re.compile(stmt.pattern)
                # Snowflake applies PATTERN as a FULL-path anchored
                # regex; an unanchored search fallback loaded files
                # like data/a.csv.bak for PATTERN='data/a[.]csv'
                files = [f for f in files if rx.fullmatch(f)]
            except re.error:
                import fnmatch

                files = [f for f in files if fnmatch.fnmatch(f, stmt.pattern)]
        # load history (Snowflake semantics): a file already loaded
        # into this table is SKIPPED on re-COPY unless FORCE=TRUE; the
        # signature is (size, mtime_ns) so an overwritten same-name
        # file re-qualifies. VALIDATION_MODE dry runs never consult or
        # write history.
        tkey = (tm.database, tm.schema, tm.name)
        hist = self.catalog.copy_load_history.setdefault(tkey, {})
        force = stmt.force or str(stmt.options.get("FORCE", "FALSE")).upper() in ("TRUE", "1")

        def _sig(rel: str):
            try:
                st_ = os.stat(os.path.join(stage.directory, rel))
                return (st_.st_size, st_.st_mtime_ns)
            except OSError:
                return None

        # history keys are ABSOLUTE paths: two stages can hold files
        # with the same relative name, and those are distinct loads
        skipped: list[str] = []
        if not force and not stmt.validation_mode:
            fresh = []
            for rel in files:
                hk = os.path.join(stage.directory, rel)
                if hist.get(hk) is not None and hist.get(hk) == _sig(rel):
                    skipped.append(rel)
                else:
                    fresh.append(rel)
            files = fresh
        if not files and not skipped:
            return Result.status("Copy executed with 0 files processed.")

        errs: list[str] = []
        loads: list[tuple[str, DataFrame]] = []
        for rel in files:
            try:
                df = self._read_file(os.path.join(stage.directory, rel), stmt, tm)
                if stmt.validation_mode and stmt.validation_mode.startswith("RETURN"):
                    # RETURN_ERRORS / RETURN_ALL_ERRORS / RETURN_n_ROWS:
                    # every VALIDATION_MODE validates WITHOUT loading
                    # (falling through loaded data on a dry run)
                    df.count()  # force read; errors surface, nothing loaded
                    continue
                loads.append((rel, self.catalog.conform(tm, df)))
            except Exception as e:
                self._file_failed(stmt, rel, e, errs)
        loaded, rows_loaded = self._append(tm, stmt, loads, errs)
        loaded_paths = [os.path.join(stage.directory, rel) for rel in loaded]
        if not stmt.validation_mode:
            for rel in loaded:
                hist[os.path.join(stage.directory, rel)] = _sig(rel)
        files_loaded = len(loaded)
        if stmt.purge:
            for p in loaded_paths:
                try:
                    os.remove(p)
                except OSError:
                    pass
        r = Result(
            columns=["file", "status", "rows_loaded"],
            rows=[[os.path.basename(p), "LOADED", None] for p in loaded_paths]
            + [[os.path.basename(s), "LOAD_SKIPPED", None] for s in skipped],
        )
        r.rows_loaded = rows_loaded
        r.rows_inserted = rows_loaded
        r.files_loaded = files_loaded
        r.errors = errs
        return r

    def _append(self, tm: TableMeta, stmt: CopyStatement,
                loads: list[tuple[str, DataFrame]], errs: list[str]) -> tuple[list[str], int]:
        """Load the files of one COPY as ONE append, so the COPY is one
        new table version and the versions before it stay reachable by
        time travel; returns the files loaded and the rows. The row
        count rides the write (one pass over each file). If the write
        fails, each file is run on its own through a no-op write to
        name the bad one: ON_ERROR CONTINUE / SKIP_FILE drop it and load
        the rest, any other mode raises."""
        if not loads:
            return [], 0
        rows = loads[0][1]
        for _rel, df in loads[1:]:
            rows = rows.union(df)
        try:
            return [rel for rel, _df in loads], self.catalog.write_table(tm, rows)
        except Exception as e:
            failure = e
        good = []
        for rel, df in loads:
            try:
                df.write.format("noop").mode("overwrite").save()
                good.append((rel, df))
            except Exception as e:
                self._file_failed(stmt, rel, e, errs)
        if len(good) == len(loads):
            raise errors.execution_error(f"COPY failed: {failure}") from failure
        return self._append(tm, stmt, good, errs)

    @staticmethod
    def _file_failed(stmt: CopyStatement, rel: str, e: Exception, errs: list[str]) -> None:
        if stmt.on_error in ("CONTINUE", "SKIP_FILE"):
            errs.append(f"{rel}: {e}")
            return
        raise errors.execution_error(f"COPY failed on {rel}: {e}") from e

    # ------------------------------------------------------------------

    def _unload(self, um: re.Match, ctx, query_df) -> Result:
        """COPY INTO @stage FROM <table|(SELECT ...)> — distributed
        export. Each executor writes its partitions directly; the only
        driver work is path resolution and the row-count observation."""
        stage = self.catalog.get("STAGE", um.group(1), ctx.database, ctx.schema)
        prefix = (um.group(2) or "").lstrip("/")
        src_sql, rest = _split_unload_source(um.string[um.end():])
        src_sql = src_sql.strip()
        if query_df is None:
            raise errors.execution_error("unload requires an executor context")
        if src_sql.startswith("("):
            df = query_df(src_sql[1:-1], ctx)
        else:
            df = query_df(f"SELECT * FROM {src_sql}", ctx)
        fmt, options = "CSV", {}
        fm = _FF_INLINE_OPEN_RE.search(rest)
        if fm:
            from ..plans.translator import match_paren

            close = match_paren(rest, fm.end() - 1)
            body = rest[fm.end():close] if close > 0 else rest[fm.end():]
            for om in re.finditer(r"(\w+)\s*=\s*('(?:[^']|'')*'|[^\s,)]+)", body):
                k, v = om.group(1).upper(), om.group(2)
                if v.startswith("'"):
                    v = v[1:-1].replace("''", "'")
                if k == "TYPE":
                    fmt = v.upper()
                else:
                    options[k] = v
        hm = _HEADER_RE.search(rest)
        header = bool(hm) and hm.group(1).upper() == "TRUE"
        om_ = _OVERWRITE_RE.search(rest)
        mode = "overwrite" if om_ and om_.group(1).upper() == "TRUE" else "append"

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ..sources.stage import StageManager

        target = StageManager(self.catalog)._resolve_inside(stage, prefix)
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        n_override: int | None = None
        writer = df.write.mode(mode)
        if fmt == "PARQUET":
            writer.parquet(target)
        elif fmt == "ORC":
            writer.orc(target)
        elif fmt == "JSON":
            writer.json(target)
        elif fmt == "CSV":
            delim = options.get("FIELD_DELIMITER", ",")
            writer.option("header", header).option("sep", delim).csv(target)
        elif fmt == "XML":
            (writer.format("xml")
             .option("rootTag", options.get("ROOT_TAG", "rows"))
             .option("rowTag", options.get("ROW_TAG", "row")).save(target))
        elif fmt == "AVRO":
            # distributed when spark-avro is deployed; otherwise the
            # pure-Python OCF writer emits one container file (unload
            # targets are driver-local stage paths here — see
            # sources/avro_ocf.py scale note)
            try:
                writer.format("avro").save(target)
            except Exception as e:
                if "avro" not in str(e).lower() or "Failed to find" not in str(e):
                    raise
                from ..sources.avro_ocf import write_ocf

                os.makedirs(target, exist_ok=True)
                names = df.columns
                stypes = [f.dataType.simpleString() for f in df.schema.fields]
                # count from the writer: toLocalIterator never
                # finalizes the Observation (it runs per-partition
                # jobs), so obs.get would block forever here
                n_override = write_ocf(
                    os.path.join(target, "data_0_0_0.avro"),
                    names, stypes,
                    (tuple(row) for row in df.toLocalIterator()))
        else:
            raise errors.execution_error(f"unsupported unload format: {fmt}")
        n = int(obs.get["n"]) if n_override is None else n_override
        r = Result(columns=["rows_unloaded"], rows=[[n]])
        r.rows_loaded = n
        return r

    def _read_file(self, path: str, stmt: CopyStatement, tm: TableMeta) -> DataFrame:
        fmt = stmt.format_type
        if stmt.select_exprs is not None:
            return self._read_transform(path, stmt, tm)
        if fmt == "CSV":
            return self._read_csv(path, stmt, tm)
        if fmt == "JSON":
            return self._read_json(path, stmt, tm)
        if fmt == "PARQUET":
            df = self.spark.read.parquet(path)
            return self._positional_cast(df, tm)
        if fmt == "ORC":
            # beyond reference (it rejects even PARQUET, copy_processor
            # parity note above); ORC is a first-class Spark source
            df = self.spark.read.orc(path)
            return self._positional_cast(df, tm)
        if fmt == "XML":
            # Spark 4 ships the XML source built-in; ROW_TAG selects
            # the per-record element (Snowflake's XML loads are
            # element-per-row too)
            row_tag = stmt.options.get("ROW_TAG", "row")
            df = self.spark.read.format("xml").option("rowTag", row_tag).load(path)
            return self._positional_cast(df, tm)
        if fmt == "AVRO":
            return self._read_avro(path, tm)
        raise errors.invalid_parameter(f"unsupported file format: {fmt}")

    def _read_avro(self, path: str, tm: TableMeta) -> DataFrame:
        """AVRO COPY load (beyond reference — it supports CSV/JSON only,
        copy_processor.go:266-268). Preferred path: the spark-avro
        DataSource (fully distributed) when the jar is deployed.
        Fallback: the pure-Python OCF codec (sources/avro_ocf.py,
        validated byte-for-byte against the official Java Avro library)
        — it runs on the driver, which matches how stage files are
        loaded here (driver-local files, same as the reference's
        per-file loads); a cluster deployment ships spark-avro and
        never hits the fallback."""
        return self._positional_cast(self._read_avro_raw(path), tm)

    def _read_avro_raw(self, path: str) -> DataFrame:
        try:
            return self.spark.read.format("avro").load(path)
        except Exception as e:
            if "avro" not in str(e).lower() or "Failed to find" not in str(e):
                raise
        from ..sources.avro_ocf import read_ocf

        fields, rows = read_ocf(path)
        from pyspark.sql import types as T

        _PRIM = {"boolean": T.BooleanType(), "int": T.IntegerType(),
                 "long": T.LongType(), "float": T.FloatType(),
                 "double": T.DoubleType(), "bytes": T.BinaryType(),
                 "string": T.StringType(), "null": T.NullType()}
        schema = T.StructType()
        for i, (name, prim, _nullable) in enumerate(fields):
            dt = _PRIM.get(prim, T.StringType())
            # logical date/timestamp decode to Python date/datetime
            if rows:
                import datetime as _dt

                sample = next((r[i] for r in rows if r[i] is not None), None)
                if isinstance(sample, _dt.datetime):
                    dt = T.TimestampNTZType()
                elif isinstance(sample, _dt.date):
                    dt = T.DateType()
            schema.add(name, dt, True)
        rows = [tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
                for r in rows]
        return self.spark.createDataFrame(rows, schema)

    def _read_transform(self, path: str, stmt: CopyStatement, tm: TableMeta) -> DataFrame:
        """COPY transformation: read the file RAW (no table-schema
        mapping), rename columns positionally so ``$N`` resolves, run
        the translated select list, then cast the output into the table
        schema positionally — Snowflake's load-time transform. The
        select list may use the full translated function surface."""
        o = stmt.options
        fmt = stmt.format_type
        if fmt == "CSV":
            skip_header = int(o.get("SKIP_HEADER", "0") or 0)
            df = (self.spark.read.option("sep", o.get("FIELD_DELIMITER", ","))
                  .option("header", "true" if skip_header >= 1 else "false")
                  .csv(path))
        elif fmt == "JSON":
            df = self.spark.read.json(path)
        elif fmt == "PARQUET":
            df = self.spark.read.parquet(path)
        elif fmt == "ORC":
            df = self.spark.read.orc(path)
        elif fmt == "XML":
            df = (self.spark.read.format("xml")
                  .option("rowTag", o.get("ROW_TAG", "row")).load(path))
        elif fmt == "AVRO":
            # raw read via the same dual path as _read_avro, without
            # the table-schema cast (the transform SELECT shapes it)
            df = self._read_avro_raw(path)
        else:
            raise errors.invalid_parameter(f"unsupported transform format: {fmt}")
        renamed = df.toDF(*[f"__c{i + 1}" for i in range(len(df.columns))])
        sel = re.sub(r"\$(\d+)", lambda m: f"__c{m.group(1)}", stmt.select_exprs)
        from ..plans.translator import translate

        # per-statement UNIQUE view name: a hash-bucketed name could
        # collide across concurrent loads (another thread's
        # createOrReplaceTempView between registration and analysis
        # would join the wrong file's data); dropped after planning
        import uuid as _uuid

        view = f"__copy_xform_{_uuid.uuid4().hex[:12]}"
        renamed.createOrReplaceTempView(view)
        try:
            # spark.sql analyzes eagerly: the resolved plan captures
            # the view's child plan, so dropping the view right after
            # is safe even though the job runs later
            out = self.spark.sql(translate(f"SELECT {sel} FROM {view}"))
        finally:
            try:
                self.spark.catalog.dropTempView(view)
            except Exception:
                pass
        return self._positional_cast(out, tm)

    def _read_csv(self, path: str, stmt: CopyStatement, tm: TableMeta) -> DataFrame:
        o = stmt.options
        skip_header = int(o.get("SKIP_HEADER", "0") or 0)
        reader = (
            self.spark.read.option("sep", o.get("FIELD_DELIMITER", ","))
            .option("header", "true" if skip_header >= 1 else "false")
            .option("emptyValue", None)
            .option("nullValue", "")
            .option(
                "mode",
                "DROPMALFORMED" if stmt.on_error == "CONTINUE" else "FAILFAST",
            )
        )
        if o.get("RECORD_DELIMITER") and o["RECORD_DELIMITER"] != "\n":
            reader = reader.option("lineSep", o["RECORD_DELIMITER"].replace("\\n", "\n"))
        if o.get("TRIM_SPACE", "").upper() == "TRUE":
            reader = reader.option("ignoreLeadingWhiteSpace", "true").option(
                "ignoreTrailingWhiteSpace", "true"
            )
        df = reader.csv(path)
        null_if = o.get("NULL_IF")
        if null_if:
            tokens = (null_if if isinstance(null_if, list)
                      else [t.strip().strip("'")
                            for t in null_if.strip("()").split(",")])
            for c in df.columns:
                df = df.withColumn(
                    c, F.when(F.col(c).isin(tokens), F.lit(None)).otherwise(F.col(c))
                )
        return self._positional_cast(df, tm)

    def _read_json(self, path: str, stmt: CopyStatement, tm: TableMeta) -> DataFrame:
        strip_outer = stmt.options.get("STRIP_OUTER_ARRAY", "").upper() == "TRUE"
        if strip_outer:
            df = self.spark.read.option("multiLine", "true").json(path)
            # name-based alignment (JSON objects are unordered), fall back
            # to positional for unnamed columns
            lower_map = {c.lower(): c for c in df.columns}
            cols = []
            for f in tm.spark_schema().fields:
                src = lower_map.get(f.name.lower())
                if src is not None:
                    cols.append(F.col(src).cast(f.dataType).alias(f.name))
                else:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            return df.select(*cols)
        # non-strip mode: each top-level element -> single $1 VARIANT (JSON
        # text) column (copy_processor.go:399-416). Parsed EXECUTOR-side
        # via mapInPandas (the r1 version collect()ed the whole file to
        # the driver — a multi-GB file would OOM it); output is yielded
        # in bounded chunks so Arrow batches stay small.
        raw = self.spark.read.option("wholetext", "true").text(path)
        first_col = tm.columns[0].name if tm.columns else "$1"

        def _explode_json(batches):
            import json as _json

            import pandas as pd

            chunk = 10000
            decoder = _json.JSONDecoder()

            def _iter_docs(text: str):
                # STREAMING decode: stage JSON files are usually
                # newline-delimited (one document per line), which a
                # single json.loads rejects with 'Extra data'; walk the
                # text decoding one top-level document at a time
                idx, n = 0, len(text)
                while idx < n:
                    while idx < n and text[idx] in " \t\r\n":
                        idx += 1
                    if idx >= n:
                        break
                    doc, idx = decoder.raw_decode(text, idx)
                    yield doc

            for pdf in batches:
                for text in pdf["value"]:
                    docs = list(_iter_docs(text))
                    if len(docs) == 1 and isinstance(docs[0], list):
                        elements = docs[0]
                    else:
                        elements = docs
                    for i in range(0, len(elements), chunk):
                        yield pd.DataFrame({
                            first_col: [
                                _json.dumps(e, separators=(",", ":"))
                                for e in elements[i : i + chunk]
                            ]
                        })

        df = raw.mapInPandas(_explode_json, schema=f"`{first_col}` string")
        return self._positional_cast(df, tm)

    def _positional_cast(self, df: DataFrame, tm: TableMeta) -> DataFrame:
        target = tm.spark_schema()
        if len(df.columns) != len(target.fields) and len(target.fields) == 1:
            src0 = target.fields[0]
            if src0.dataType.simpleString() == "string":
                # Snowflake semistructured loads (XML/nested JSON) put
                # the WHOLE record into one VARIANT column; in the
                # VARIANT-as-JSON-string model that is to_json of the
                # full row struct
                return df.select(
                    F.to_json(F.struct(*df.columns)).alias(src0.name))
        if len(df.columns) != len(target.fields):
            raise errors.execution_error(
                f"file column count {len(df.columns)} != table column count {len(target.fields)}"
            )

        def conv(src: str, f):
            # a nested source column (XML elements, JSON objects)
            # loading into a VARCHAR/VARIANT target serializes as JSON
            # instead of failing the struct->string cast
            if (df.schema[src].dataType.simpleString().startswith(("struct", "array", "map"))
                    and f.dataType.simpleString() == "string"):
                return F.to_json(df[src]).alias(f.name)
            return df[src].cast(f.dataType).alias(f.name)

        return df.select(*[conv(s, f) for s, f in zip(df.columns, target.fields)])
