"""Identifier and table-name semantics.

Snowflake semantics mirrored from the reference: unquoted identifiers
are uppercased (`/root/reference/pkg/query/table_naming.go:24-27`), the
3-level ``DB.SCHEMA.TABLE`` namespace is flattened onto the engine's
2-level namespace as ``DB`` + ``SCHEMA_TABLE``
(`/root/reference/pkg/query/table_naming.go:23-40`), and the default
namespace is ``TEST_DB.PUBLIC``.

In our Spark engine, a statement binds a view's or stream's reading
under the flattened name ``DB__SCHEMA__NAME`` (Spark identifiers cannot
contain dots without backticks; a double-underscore separator keeps the
flattening reversible).
"""

from __future__ import annotations

from . import config

SEP = "__"


def normalize_ident(name: str) -> str:
    """Uppercase unquoted identifiers; strip double-quotes and preserve
    case for quoted ones (Snowflake rules)."""
    name = name.strip()
    if len(name) >= 2 and name.startswith('"') and name.endswith('"'):
        return name[1:-1].replace('""', '"')
    return name.upper()


def split_qualified(name: str, database: str | None = None, schema: str | None = None) -> tuple[str, str, str]:
    """Resolve a possibly-qualified table name to (db, schema, table).

    Accepts TABLE, SCHEMA.TABLE, or DB.SCHEMA.TABLE; missing levels fall
    back to the session context (or engine defaults).
    """
    parts = _split_dotted(name)
    db = database or config.DEFAULT_DATABASE
    sch = schema or config.DEFAULT_SCHEMA
    if len(parts) == 1:
        return normalize_ident(db), normalize_ident(sch), normalize_ident(parts[0])
    if len(parts) == 2:
        return normalize_ident(db), normalize_ident(parts[0]), normalize_ident(parts[1])
    if len(parts) == 3:
        return normalize_ident(parts[0]), normalize_ident(parts[1]), normalize_ident(parts[2])
    raise ValueError(f"invalid table name: {name!r}")


def _split_dotted(name: str) -> list[str]:
    """Split on dots, respecting double-quoted segments."""
    parts: list[str] = []
    buf: list[str] = []
    in_quote = False
    for ch in name.strip():
        if ch == '"':
            in_quote = not in_quote
            buf.append(ch)
        elif ch == "." and not in_quote:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p for p in (s.strip() for s in parts) if p]


def physical_name(db: str, schema: str, table: str) -> str:
    """Flattened single-level name a statement binds a view or stream under."""
    return f"{normalize_ident(db)}{SEP}{normalize_ident(schema)}{SEP}{normalize_ident(table)}"
