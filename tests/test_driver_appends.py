"""Appends of rows Spark has already folded onto the driver (VALUES and
its casts) are written by pyarrow with no Spark job, and read back
exactly as rows Spark wrote; every other append keeps the Spark write."""

import datetime
import os
import time
from decimal import Decimal

import pytest

from snowflake_emulator_spark import catalog as catalog_mod
from snowflake_emulator_spark.executor import SessionContext

# one column per storage type of functions/typemap.py
COLUMNS = ("(ID INT, BI BIGINT, SI SMALLINT, TI TINYINT, D DOUBLE, R REAL, "
           "N NUMBER(38,0), N2 NUMBER(10,2), V VARCHAR, B BINARY, BO BOOLEAN, "
           "DT DATE, TM TIME, TN TIMESTAMP_NTZ, TL TIMESTAMP_LTZ, VA VARIANT)")
TUPLES = [
    "1, 9000000000, -300, 7, 1.5, 2.25, 12345678901234567890123456789012345678, "
    "12.345, 'x', X'4142', TRUE, DATE '1500-01-01', '12:34:56', "
    "'1899-03-04 05:06:07.123456'::TIMESTAMP_NTZ, "
    "'1899-03-04 05:06:07.123456'::TIMESTAMP_LTZ, '{\"a\": 1}'",
    "2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
    "NULL, NULL, NULL, NULL",
    # 06:30 UTC is the second 01:30 of New York's 2021 fall-back hour
    "3, -1, 32767, -128, -0.5, -1.5, -1, -99999999.99, '', X'', FALSE, "
    "DATE '2024-02-29', '23:59:59', '2021-11-07 06:30:00'::TIMESTAMP_NTZ, "
    "'2021-11-07 06:30:00'::TIMESTAMP_LTZ, '[1, \"two\"]'",
]


@pytest.fixture()
def ctx():
    return SessionContext()


@pytest.fixture()
def new_york():
    """Run with the process time zone west of UTC: collect() turns
    TIMESTAMP_LTZ values into local datetimes."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def _jobs(engine, ctx, sql) -> int:
    """The number of Spark jobs ``sql`` ran (under its query id's job group)."""
    group = engine.execute(sql, ctx).query_id
    return len(engine.spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _rows(engine, ctx, table) -> list[tuple]:
    return [tuple(r) for r in engine.execute(f"SELECT * FROM {table} ORDER BY ID", ctx).rows]


def test_values_rows_read_back_as_spark_writes_them(engine, ctx, new_york):
    engine.execute(f"CREATE TABLE DRV {COLUMNS}", ctx)
    engine.execute(f"CREATE TABLE SPK {COLUMNS}", ctx)
    engine.execute("CREATE TABLE ONE_ROW (X INT)", ctx)
    engine.execute("INSERT INTO ONE_ROW VALUES (1)", ctx)
    for tup in TUPLES:
        assert _jobs(engine, ctx, f"INSERT INTO DRV VALUES ({tup})") == 0
        assert _jobs(engine, ctx, f"INSERT INTO SPK SELECT {tup} FROM ONE_ROW") >= 1
    drv = _rows(engine, ctx, "DRV")
    assert drv == _rows(engine, ctx, "SPK")
    first, nulls, last = drv
    assert first[6] == Decimal("12345678901234567890123456789012345678")
    assert first[7] == Decimal("12.35") and first[9] == b"AB"
    assert first[11] == datetime.date(1500, 1, 1)
    assert first[13] == datetime.datetime(1899, 3, 4, 5, 6, 7, 123456)
    assert nulls[1:] == (None,) * 15
    assert (last[8], last[9]) == ("", b"")
    # both readings of the fall-back hour's 01:30 stay distinct instants
    assert last[14].astimezone(datetime.timezone.utc) == datetime.datetime(
        2021, 11, 7, 6, 30, tzinfo=datetime.timezone.utc)
    # the driver wrote one parquet file per INSERT next to the links
    tm = engine.catalog.get_table("DRV", ctx.database, ctx.schema)
    assert len(catalog_mod.Catalog._data_files(tm.version_path())) == len(TUPLES)


def test_one_row_insert_runs_no_spark_job(engine, ctx):
    engine.execute("CREATE TABLE EV (ID INT, KIND VARCHAR, AMOUNT NUMBER(10,2))", ctx)
    engine.execute("CREATE TABLE EV_SRC (ID INT, KIND VARCHAR, AMOUNT NUMBER(10,2))", ctx)
    engine.execute("INSERT INTO EV_SRC VALUES (9, 'src', 1)", ctx)
    assert _jobs(engine, ctx,
                 "INSERT INTO EV (ID, KIND, AMOUNT) VALUES (1, 'deposit', 12.34)") == 0
    res = engine.execute("INSERT INTO EV (AMOUNT, ID) VALUES (1, 2), (2.5, 3)", ctx)
    assert res.rows == [[2]] and res.rows_inserted == 2
    assert _jobs(engine, ctx, "INSERT INTO EV SELECT * FROM EV_SRC") >= 1
    assert _rows(engine, ctx, "EV") == [
        (1, "deposit", Decimal("12.34")), (2, None, Decimal("1.00")),
        (3, None, Decimal("2.50")), (9, "src", Decimal("1.00"))]


def test_clustered_table_and_subquery_values_keep_the_spark_write(engine, ctx):
    engine.execute("CREATE TABLE CL (ID INT, G VARCHAR) CLUSTER BY (G)", ctx)
    assert _jobs(engine, ctx, "INSERT INTO CL VALUES (2, 'b'), (1, 'a')") >= 1
    engine.execute("CREATE TABLE SQ (ID INT)", ctx)
    engine.execute("INSERT INTO SQ VALUES (4)", ctx)
    assert _jobs(engine, ctx, "INSERT INTO SQ VALUES ((SELECT MAX(ID) FROM SQ) + 1)") >= 1
    assert _rows(engine, ctx, "CL") == [(1, "a"), (2, "b")]
    assert _rows(engine, ctx, "SQ") == [(4,), (5,)]


def test_driver_append_is_rolled_back(engine, ctx):
    engine.execute("CREATE TABLE RB (ID INT)", ctx)
    engine.execute("INSERT INTO RB VALUES (1)", ctx)
    engine.execute("BEGIN", ctx)
    engine.execute("INSERT INTO RB VALUES (2)", ctx)
    assert _rows(engine, ctx, "RB") == [(1,), (2,)]
    engine.execute("ROLLBACK", ctx)
    assert _rows(engine, ctx, "RB") == [(1,)]
    engine.execute("INSERT INTO RB VALUES (3)", ctx)
    assert _rows(engine, ctx, "RB") == [(1,), (3,)]


def test_not_null_column_reads_back_as_spark_writes_it(engine, ctx):
    """NOT NULL is not enforced on INSERT: a NULL the driver writes
    reads back as the NULL a Spark write stores."""
    for t in ("NN_DRV", "NN_SPK"):
        engine.execute(f"CREATE TABLE {t} (ID INT, V VARCHAR NOT NULL)", ctx)
    engine.execute("CREATE TABLE NN_SRC (ID INT, V VARCHAR)", ctx)
    engine.execute("INSERT INTO NN_SRC VALUES (1, NULL), (2, 'b')", ctx)
    assert _jobs(engine, ctx, "INSERT INTO NN_DRV VALUES (1, NULL), (2, 'b')") == 0
    engine.execute("INSERT INTO NN_SPK SELECT * FROM NN_SRC", ctx)
    assert _rows(engine, ctx, "NN_DRV") == _rows(engine, ctx, "NN_SPK") == [
        (1, None), (2, "b")]


@pytest.mark.parametrize("source", ["VALUES (1, 'a')", "SELECT * FROM RN_SRC"])
def test_append_racing_a_column_rename_lands_under_the_new_name(
        engine, ctx, monkeypatch, source):
    """A RENAME COLUMN that lands between the conform of an append and
    its table lock: the rows are written under the new name."""
    engine.execute("CREATE TABLE RN (ID INT, V VARCHAR)", ctx)
    engine.execute("CREATE TABLE RN_SRC (ID INT, V VARCHAR)", ctx)
    engine.execute("INSERT INTO RN_SRC VALUES (1, 'a')", ctx)
    real_lock, pending = engine.catalog._table_lock, ["ALTER TABLE RN RENAME COLUMN V TO W"]

    def lock_after_rename(tm):
        if tm.name == "RN" and pending:
            engine.execute(pending.pop(), ctx)
        return real_lock(tm)

    monkeypatch.setattr(engine.catalog, "_table_lock", lock_after_rename)
    assert engine.execute(f"INSERT INTO RN {source}", ctx).rows == [[1]]
    assert engine.execute("SELECT ID, W FROM RN", ctx).rows == [[1, "a"]]


def test_append_racing_a_column_drop_fails(engine, ctx, monkeypatch):
    from snowflake_emulator_spark import errors

    engine.execute("CREATE TABLE DC (ID INT, V VARCHAR)", ctx)
    real_lock, pending = engine.catalog._table_lock, ["ALTER TABLE DC DROP COLUMN V"]

    def lock_after_drop(tm):
        if tm.name == "DC" and pending:
            engine.execute(pending.pop(), ctx)
        return real_lock(tm)

    monkeypatch.setattr(engine.catalog, "_table_lock", lock_after_drop)
    with pytest.raises(errors.SnowflakeError):
        engine.execute("INSERT INTO DC VALUES (1, 'a')", ctx)
    assert engine.execute("SELECT * FROM DC", ctx).rows == []


def test_timestamp_outside_local_datetime_range_takes_the_spark_write(engine, ctx, new_york):
    """0001-01-01 01:00 UTC falls in year 0 in New York, which a Python
    datetime cannot hold: the row is written by Spark instead."""
    engine.execute("CREATE TABLE OLD_TS (ID INT, TL TIMESTAMP_LTZ)", ctx)
    assert _jobs(engine, ctx, "INSERT INTO OLD_TS VALUES "
                 "(1, '0001-01-01 01:00:00'::TIMESTAMP_LTZ)") >= 1
    assert engine.execute("SELECT ID, TO_VARCHAR(TL, 'YYYY-MM-DD HH24:MI:SS') FROM OLD_TS",
                          ctx).rows == [[1, "0001-01-01 01:00:00"]]
