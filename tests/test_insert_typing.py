"""Rows written into a table keep their column types: INSERT ... SELECT
casts its source columns by position, and CREATE TABLE ... AS SELECT
keeps a DECIMAL's precision and scale."""

from decimal import Decimal

import pytest

from snowflake_emulator_spark.executor import SessionContext


@pytest.fixture()
def ctx():
    return SessionContext()


def _rows(engine, ctx, table) -> list[tuple]:
    return [tuple(r) for r in engine.execute(f"SELECT * FROM {table} ORDER BY ID", ctx).rows]


def test_insert_select_casts_by_position(engine, ctx):
    """Source columns named like an expression or named twice."""
    engine.execute("CREATE TABLE G (ID INT, S VARCHAR, X DOUBLE)", ctx)
    engine.execute("INSERT INTO G SELECT 1, 'x', 1.5 + 1", ctx)
    engine.execute("INSERT INTO G SELECT 2, 'x', 2", ctx)
    engine.execute("INSERT INTO G SELECT 2, 'x', 2", ctx)
    engine.execute("INSERT INTO G SELECT 10 + SEQ4(), 'g', SEQ4() * 1.5 "
                   "FROM TABLE(GENERATOR(ROWCOUNT => 3))", ctx)
    assert _rows(engine, ctx, "G") == [
        (1, "x", 2.5), (2, "x", 2.0), (2, "x", 2.0),
        (10, "g", 0.0), (11, "g", 1.5), (12, "g", 3.0)]


def test_ctas_keeps_decimal_scale(engine, ctx):
    engine.execute("CREATE TABLE SRC_P (ID INT, P NUMBER(12,2))", ctx)
    engine.execute("INSERT INTO SRC_P VALUES (1, 12.34)", ctx)
    engine.execute("CREATE TABLE CT AS SELECT * FROM SRC_P", ctx)
    assert engine.execute("SELECT P FROM CT", ctx).rows == [[Decimal("12.34")]]
    types = {r[0]: r[1] for r in engine.execute("DESCRIBE TABLE CT", ctx).rows}
    assert types["P"] == "NUMBER(12,2)"
