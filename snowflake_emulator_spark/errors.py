"""Snowflake-shaped error model.

Reproduces the error-code surface of the reference
(`/root/reference/server/apierror/error.go:11-58`): numeric Snowflake
codes, SQLSTATE strings, and an HTTP-200-with-error JSON envelope for
the gosnowflake protocol.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class SnowflakeError(Exception):
    code: str
    message: str
    sqlstate: str = "42000"
    status_code: int = 200  # gosnowflake protocol returns HTTP 200 + success=false

    def __str__(self) -> str:  # pragma: no cover - repr convenience
        return f"{self.code} ({self.sqlstate}): {self.message}"

    def envelope(self) -> dict:
        """gosnowflake-protocol error envelope (HTTP 200, success=false)."""
        return {
            "data": {"sqlState": self.sqlstate, "errorCode": self.code},
            "code": self.code,
            "message": self.message,
            "success": False,
        }


# Error codes used by the reference (server/apierror/error.go:11-58).
def session_expired(msg: str = "Session token expired") -> SnowflakeError:
    return SnowflakeError("390112", msg, "08001")


def invalid_token(msg: str = "Invalid session token") -> SnowflakeError:
    return SnowflakeError("390104", msg, "08001")


def missing_token(msg: str = "Missing authentication token") -> SnowflakeError:
    return SnowflakeError("390101", msg, "08001")


def master_token_expired(msg: str = "Master token expired") -> SnowflakeError:
    return SnowflakeError("390114", msg, "08001")


def object_not_found(obj: str) -> SnowflakeError:
    return SnowflakeError("002043", f"SQL compilation error: Object '{obj}' does not exist or not authorized.", "02000")


def object_exists(obj: str) -> SnowflakeError:
    return SnowflakeError("002002", f"SQL compilation error: Object '{obj}' already exists.", "42710")


def syntax_error(msg: str) -> SnowflakeError:
    return SnowflakeError("001003", f"SQL compilation error: {msg}", "42000")


def invalid_parameter(msg: str) -> SnowflakeError:
    return SnowflakeError("001007", msg, "22023")


def execution_error(msg: str) -> SnowflakeError:
    return SnowflakeError("100037", f"SQL execution error: {msg}", "P0000")


def time_travel_unavailable(table: str, detail: str = "") -> SnowflakeError:
    """The requested version or instant is outside retention, or GC
    deleted the version before the read could pin it."""
    return execution_error(
        f"Time travel data is not available for table {table}. The requested "
        "time is either beyond the allowed time travel period or before the "
        "object creation time." + detail)


def canceled() -> SnowflakeError:
    return SnowflakeError("000604", "SQL execution canceled", "57014")


def statement_not_found(handle: str) -> SnowflakeError:
    return SnowflakeError("390144", f"Statement handle {handle} not found", "02000")


def invalid_identifier(name: str) -> SnowflakeError:
    return SnowflakeError(
        "000904", f"SQL compilation error: error line 1: invalid identifier '{name}'",
        "42000")


def division_by_zero() -> SnowflakeError:
    return SnowflakeError("100051", "Division by zero", "22012")


def numeric_value_error(msg: str) -> SnowflakeError:
    return SnowflakeError("100038", f"Numeric value error: {msg}", "22018")


def from_spark(e: Exception) -> SnowflakeError:
    """Map a Spark exception onto the Snowflake error model by error
    class (the reference surfaces DuckDB errors as generic execution
    errors, query.go error path; this is finer-grained parity with
    real Snowflake's codes). A SnowflakeError maps onto itself."""
    import re as _re

    if isinstance(e, SnowflakeError):
        return e
    cls = ""
    get_cls = getattr(e, "getCondition", None)
    if callable(get_cls):
        try:
            cls = get_cls() or ""
        except Exception:
            cls = ""
    msg = str(e)
    # Spark 4 messages may start with a newline: the first non-empty
    # line is the one that names the error
    first_line = next((ln for ln in msg.split("\n") if ln.strip()), "")[:200]
    if "TABLE_OR_VIEW_NOT_FOUND" in cls or "TABLE_OR_VIEW_NOT_FOUND" in msg:
        m = _re.search(r"`+([\w.]+)`+", msg)
        return object_not_found(m.group(1) if m else "unknown")
    if "UNRESOLVED_COLUMN" in cls or "UNRESOLVED_COLUMN" in msg:
        m = _re.search(r"`([\w.]+)`", msg)
        return invalid_identifier(m.group(1) if m else "unknown")
    if "PARSE_SYNTAX_ERROR" in cls or "PARSE_SYNTAX_ERROR" in msg:
        return syntax_error(first_line)
    if "DIVIDE_BY_ZERO" in cls or "DIVIDE_BY_ZERO" in msg:
        return division_by_zero()
    if ("CAST_INVALID_INPUT" in cls or "CAST_INVALID_INPUT" in msg
            or "NUMERIC_VALUE_OUT_OF_RANGE" in cls
            or "NUMERIC_VALUE_OUT_OF_RANGE" in msg):
        return numeric_value_error(first_line)
    return execution_error(msg)
