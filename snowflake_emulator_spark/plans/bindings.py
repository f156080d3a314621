"""Positional / qmark binding substitution.

Port of the reference's literal-substitution pre-pass
(`/root/reference/pkg/query/executor.go:134-280`): bindings arrive as
``{"1": {"type": "TEXT", "value": "x"}}`` (named positional ``:N``) or
are applied in order to ``?`` placeholders. Values are validated and
quoted per type — TEXT escapes quotes AND backslashes (Spark's default
parser treats backslash as an escape character, so a value like
``C:\\temp`` or one ending in ``\\`` would otherwise corrupt the
literal or swallow the rest of the statement — an injection vector) —
numbers are parse-checked, DATE/TIME/TIMESTAMP are regex-validated and
emitted as typed literals.

Both the ``:N`` and ``?`` passes substitute in ONE literal-aware scan:
placeholders inside string literals, double-quoted identifiers or
comments are never rewritten, and substituted values are never
re-scanned (sequential re.sub let a binding value containing ``:1``
be rewritten by a later pass).

Bulk binds (``bind_table`` / ``bind_column_refs``) do not substitute
values: the rows become a relation and the placeholders its columns.

Spark 3.4+ offers ``spark.sql(sql, args=...)`` server-side parameters;
we keep literal substitution to reproduce the reference's validation
error surface, but the executor can route through either.
"""

from __future__ import annotations

import re

from .. import errors

_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_TIME_RE = re.compile(r"^\d{2}:\d{2}:\d{2}(\.\d+)?$")
# optional zone suffix (Z / +02:00 / -0700) per the reference's
# timestampRegex (executor.go:24); Spark's TIMESTAMP literal parses all
# three spellings and converts to the session timezone
_TS_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?([+-]\d{2}:?\d{2}|Z)?$")
_INT_RE = re.compile(r"^[+-]?\d+$")
_FLOAT_RE = re.compile(r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$")


def _text_literal(s: str) -> str:
    # backslash FIRST, then quote-as-backslash-escape: Spark's default
    # (non-escapedStringLiterals) parser interprets both
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def format_binding_value(btype: str, value) -> str:
    """Render one typed binding as a SQL literal
    (cf. executor.go:219-280)."""
    t = (btype or "TEXT").upper()
    if value is None:
        return "NULL"
    s = str(value)
    if t in ("TEXT", "VARCHAR", "CHAR", "STRING"):
        return _text_literal(s)
    if t in ("FIXED", "INTEGER", "INT", "BIGINT", "NUMBER"):
        if not _INT_RE.match(s):
            raise errors.invalid_parameter(f"invalid integer binding value: {s!r}")
        return s
    if t in ("REAL", "FLOAT", "DOUBLE"):
        if not _FLOAT_RE.match(s):
            raise errors.invalid_parameter(f"invalid float binding value: {s!r}")
        return s
    if t == "BOOLEAN":
        low = s.lower()
        if low not in ("true", "false", "0", "1"):
            raise errors.invalid_parameter(f"invalid boolean binding value: {s!r}")
        return "TRUE" if low in ("true", "1") else "FALSE"
    if t == "DATE":
        if not _DATE_RE.match(s):
            raise errors.invalid_parameter(f"invalid date binding value: {s!r}")
        return f"DATE '{s}'"
    if t == "TIME":
        if not _TIME_RE.match(s):
            raise errors.invalid_parameter(f"invalid time binding value: {s!r}")
        return f"'{s}'"  # TIME stored as text (SURVEY §1.3)
    if t in ("TIMESTAMP", "TIMESTAMP_NTZ", "TIMESTAMP_LTZ", "TIMESTAMP_TZ", "DATETIME"):
        if not _TS_RE.match(s):
            raise errors.invalid_parameter(f"invalid timestamp binding value: {s!r}")
        return f"TIMESTAMP '{s.replace('T', ' ')}'"
    # default: treat as text
    return _text_literal(s)


_NAMED_RE = re.compile(r":(\d+)\b")


def apply_bindings(sql: str, bindings: dict[str, dict] | None) -> str:
    """Substitute ``:N`` placeholders, then ``?`` in order — both via
    one literal/identifier/comment-aware scan."""
    if not bindings:
        return sql
    numeric = {str(k) for k in bindings if str(k).isdigit()}

    def named_repl(token: str) -> str | None:
        m = _NAMED_RE.fullmatch(token)
        if m and m.group(1) in numeric:
            b = bindings[m.group(1)]
            return format_binding_value(b.get("type", "TEXT"), b.get("value"))
        return None

    sql = _scan_substitute(sql, named_repl)
    if "?" in sql:
        ordered = [bindings[k] for k in sorted(
            bindings, key=lambda x: int(x) if str(x).isdigit() else 0)]
        counter = {"i": 0}

        def qmark_repl(token: str) -> str | None:
            if token != "?":
                return None
            i = counter["i"]
            counter["i"] += 1
            if i < len(ordered):
                b = ordered[i]
                return format_binding_value(b.get("type", "TEXT"), b.get("value"))
            return "?"

        sql = _scan_substitute(sql, qmark_repl)
    return sql


def bind_table(files: list[bytes]):
    """A ``pyarrow.Table`` of the bind rows in gosnowflake's bind CSV
    files (``bind_uploader.go``): string columns ``__b1..__bN``, one
    per placeholder, read by a template from ``bind_column_refs``. An
    unquoted empty field is NULL and a quoted ``""`` the empty string,
    so in a one-column file an empty line is a NULL row; a quoted value
    may hold newlines. Empty files hold no rows; rows of unequal width
    are rejected."""
    import csv
    import io

    import pyarrow as pa
    from pyarrow import csv as pacsv

    ragged = errors.invalid_parameter(
        "bind rows must all have the same, nonzero number of values")
    tables = []
    try:
        for data in files:
            if not data:
                continue
            text = io.StringIO(data.decode("utf-8"))
            # an empty first line is one NULL value
            width = max(1, len(next(csv.reader(text))))
            names = [f"__b{k + 1}" for k in range(width)]
            tables.append(pacsv.read_csv(
                pa.py_buffer(data),
                read_options=pacsv.ReadOptions(column_names=names),
                parse_options=pacsv.ParseOptions(newlines_in_values=True,
                                                 ignore_empty_lines=False),
                convert_options=pacsv.ConvertOptions(
                    column_types=dict.fromkeys(names, pa.string()),
                    null_values=[""], strings_can_be_null=True,
                    quoted_strings_can_be_null=False)))
            # pyarrow reads an empty line as a row of NULLs whatever the
            # width; in a wider file it is a ragged row
            if width > 1 and b"\n\n" in data and not all(csv.reader(text)):
                raise ragged
        return pa.concat_tables(tables) if tables else None
    except pa.ArrowInvalid as e:
        raise ragged from e


def bind_column_refs(sql: str, width: int) -> str:
    """Replace the placeholders of ``sql`` with the columns of a
    ``bind_table`` of ``width`` columns: ``:k`` and the k-th ``?``
    become ``__bk``, in the order ``apply_bindings`` assigns values, so
    a row of that table binds exactly as the same row passed as
    positional bindings. Placeholders past ``width`` stay as they are."""
    names = {str(k): f"__b{k}" for k in range(1, width + 1)}

    def named_repl(token: str) -> str | None:
        m = _NAMED_RE.fullmatch(token)
        return names.get(m.group(1)) if m else None

    sql = _scan_substitute(sql, named_repl)
    qmarks = iter(range(1, width + 1))

    def qmark_repl(token: str) -> str | None:
        return names.get(str(next(qmarks, 0))) if token == "?" else None

    return _scan_substitute(sql, qmark_repl)


def _scan_substitute(sql: str, repl) -> str:
    """Single left-to-right pass substituting ``:N`` / ``?`` tokens at
    TOP level only: string literals (''-escape aware), double-quoted
    identifiers, ``--`` and ``/* */`` comments pass through verbatim,
    and replacement text is appended without re-scanning (so a binding
    VALUE containing ':1' or '?' is never rewritten again)."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
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
        if c == '"':
            j = i + 1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
            continue
        if sql.startswith("--", i):
            j = sql.find("\n", i + 2)
            j = n if j < 0 else j + 1
            out.append(sql[i:j])
            i = j
            continue
        if sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(sql[i:j])
            i = j
            continue
        if c == "?":
            r = repl("?")
            out.append(r if r is not None else "?")
            i += 1
            continue
        if c == ":" and i + 1 < n and sql[i + 1].isdigit():
            m = _NAMED_RE.match(sql, i)
            if m:
                r = repl(m.group(0))
                if r is not None:
                    out.append(r)
                    i = m.end()
                    continue
        out.append(c)
        i += 1
    return "".join(out)
