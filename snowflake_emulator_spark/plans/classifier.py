"""Statement classifier.

Same contract as the reference's prefix-based classifier
(`/root/reference/pkg/query/classifier.go:44-147`): bucket a SQL string
into query / DDL / COPY / MERGE / transaction / DML and attach the
Snowflake ``statementTypeId`` (`pkg/config/constants.go:14-20`).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import Enum

from .. import config


class StatementType(str, Enum):
    QUERY = "QUERY"
    DDL_CREATE = "DDL_CREATE"
    DDL_DROP = "DDL_DROP"
    DDL_ALTER = "DDL_ALTER"
    COPY = "COPY"
    MERGE = "MERGE"
    TRANSACTION = "TRANSACTION"
    DML = "DML"
    USE = "USE"


@dataclass(frozen=True)
class ClassifyResult:
    type: StatementType
    statement_type_id: int
    is_query: bool = False
    is_ddl: bool = False
    is_dml: bool = False


_QUERY_PREFIXES = ("SELECT", "SHOW", "DESCRIBE", "DESC", "EXPLAIN", "WITH", "VALUES", "TABLE")
_TX_RE = re.compile(r"^(BEGIN|START\s+TRANSACTION|COMMIT|ROLLBACK)\b", re.I)


def classify(sql: str) -> ClassifyResult:
    up = sql.strip().upper()
    # a parenthesized query — (SELECT ...) — is a query: strip leading
    # parens for classification only (the executor runs the original)
    first = up.lstrip("( \t\n\r").split(None, 1)[0] if up.strip("( \t\n\r") else ""
    if first in _QUERY_PREFIXES:
        return ClassifyResult(StatementType.QUERY, config.STATEMENT_TYPE_SELECT, is_query=True)
    if first == "CREATE":
        return ClassifyResult(StatementType.DDL_CREATE, config.STATEMENT_TYPE_DDL, is_ddl=True)
    if first == "DROP":
        return ClassifyResult(StatementType.DDL_DROP, config.STATEMENT_TYPE_DROP, is_ddl=True)
    if first == "UNDROP":
        return ClassifyResult(StatementType.DDL_CREATE, config.STATEMENT_TYPE_DDL, is_ddl=True)
    if first == "ALTER":
        return ClassifyResult(StatementType.DDL_ALTER, config.STATEMENT_TYPE_DDL, is_ddl=True)
    if first == "COMMENT":  # COMMENT ON TABLE ... IS '...'
        return ClassifyResult(StatementType.DDL_ALTER, config.STATEMENT_TYPE_DDL, is_ddl=True)
    if first in ("GRANT", "REVOKE"):  # metadata-only RBAC (beyond reference)
        return ClassifyResult(StatementType.DDL_ALTER, config.STATEMENT_TYPE_DDL, is_ddl=True)
    if first == "COPY":
        return ClassifyResult(StatementType.COPY, config.STATEMENT_TYPE_DML, is_dml=True)
    if first == "MERGE":
        return ClassifyResult(StatementType.MERGE, config.STATEMENT_TYPE_DML, is_dml=True)
    if first == "USE":
        return ClassifyResult(StatementType.USE, config.STATEMENT_TYPE_DDL)
    if _TX_RE.match(up):
        return ClassifyResult(StatementType.TRANSACTION, config.STATEMENT_TYPE_DML)
    if first == "INSERT":
        return ClassifyResult(StatementType.DML, config.STATEMENT_TYPE_INSERT, is_dml=True)
    return ClassifyResult(StatementType.DML, config.STATEMENT_TYPE_DML, is_dml=True)
