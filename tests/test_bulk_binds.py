"""gosnowflake bulk array binds (``bindStage``): an ``INSERT ... VALUES
(<one tuple>)`` over staged CSV bind rows lands each row exactly as the
same row bound inline with positional TEXT binds."""

import uuid

import pytest

from snowflake_emulator_spark.executor import SessionContext

# one value of each awkward kind per column: empty text, quote,
# backslashes, double quotes, non-ASCII; exponent DOUBLE, over-scale
# NUMBER(10,2), leap-day DATE
ROWS = [
    ["1", "", "1e3", "12.345", "2024-02-29"],
    ["2", "it's", "2.5", "1", "1999-12-31"],
    ["3", "C:\\temp\\", "-0.125", "0.005", "2000-01-01"],
    ["4", '"q"', "0", "-3.14159", "2024-03-01"],
    ["5", "naïve – 日本 ✓", "1e-3", "99999999.99", "1970-01-01"],
]
COLUMNS = "(ID INTEGER, S VARCHAR, D DOUBLE, N NUMBER(10,2), DT DATE)"


@pytest.fixture()
def ctx():
    return SessionContext()


def _csv_field(v) -> str:
    """One bind value as gosnowflake's ``escapeForCSV`` writes it
    (``bind_uploader.go``): NULL is an empty field, the empty string a
    quoted ``""``, and a value holding a quote, comma, newline or
    backslash is quoted with its quotes doubled."""
    if v is None:
        return ""
    if v == "":
        return '""'
    if any(c in v for c in '",\n\\'):
        return '"' + v.replace('"', '""') + '"'
    return v


def _stage_binds(engine, ctx, tmp_path, rows) -> str:
    """CSV-encode ``rows`` as gosnowflake's bind uploader does and PUT
    them under a fresh prefix of the SYSTEM$BIND stage."""
    engine.execute("CREATE TEMPORARY STAGE IF NOT EXISTS SYSTEM$BIND", ctx)
    req = uuid.uuid4().hex
    local = tmp_path / f"{req}_0.csv"
    local.write_text("".join(",".join(map(_csv_field, r)) + "\n" for r in rows),
                     encoding="utf-8")
    engine.execute(f"PUT file://{local} @SYSTEM$BIND/{req}", ctx)
    return f"SYSTEM$BIND/{req}"


def _rows(engine, ctx, table):
    return [tuple(r) for r in engine.execute(
        f"SELECT * FROM {table} ORDER BY ID", ctx).rows]


def _bulk_vs_inline(engine, ctx, tmp_path, insert, rows):
    """Run ``insert`` (a template with ``{t}`` for the table) as one
    bulk bind into BULK_T and once per row with inline TEXT bindings
    into INLINE_T; return both tables' rows."""
    for t in ("BULK_T", "INLINE_T"):
        engine.execute(f"CREATE OR REPLACE TABLE {t} {COLUMNS}", ctx)
    engine.execute(insert.format(t="BULK_T"), ctx,
                   bind_stage=_stage_binds(engine, ctx, tmp_path, rows))
    for row in rows:
        engine.execute(insert.format(t="INLINE_T"), ctx,
                       {str(k + 1): {"type": "TEXT", "value": v}
                        for k, v in enumerate(row)})
    return _rows(engine, ctx, "BULK_T"), _rows(engine, ctx, "INLINE_T")


def test_bulk_bind_matches_inline_binds_without_column_list(engine, ctx, tmp_path):
    bulk, inline = _bulk_vs_inline(
        engine, ctx, tmp_path, "INSERT INTO {t} VALUES (?, ?, ?, ?, ?)", ROWS)
    assert bulk == inline
    assert [r[1] for r in bulk] == [r[1] for r in ROWS]
    assert bulk[0][2] == 1000.0 and str(bulk[0][3]) == "12.35"
    assert str(bulk[0][4]) == "2024-02-29"


def test_bulk_bind_matches_inline_binds_with_reordered_columns(engine, ctx, tmp_path):
    reordered = [[r[4], r[1], r[0], r[3], r[2]] for r in ROWS]
    bulk, inline = _bulk_vs_inline(
        engine, ctx, tmp_path,
        "INSERT INTO {t} (DT, S, ID, N, D) VALUES (?, ?, ?, ?, ?)", reordered)
    assert bulk == inline
    assert [r[1] for r in bulk] == [r[1] for r in ROWS]


def test_bulk_bind_matches_inline_binds_with_numbered_placeholders(engine, ctx, tmp_path):
    swapped = [[r[1], r[0]] for r in ROWS]
    bulk, inline = _bulk_vs_inline(
        engine, ctx, tmp_path, "INSERT INTO {t} (ID, S) VALUES (:2, :1)", swapped)
    assert bulk == inline
    assert [(r[0], r[1]) for r in bulk] == [(int(r[0]), r[1]) for r in ROWS]


def test_bulk_bind_matches_inline_binds_with_expressions(engine, ctx, tmp_path):
    rows = [[r[0], r[1], r[4]] for r in ROWS]
    bulk, inline = _bulk_vs_inline(
        engine, ctx, tmp_path,
        "INSERT INTO {t} (ID, S, DT) VALUES (?, UPPER(?), TO_DATE(?))", rows)
    assert bulk == inline
    assert [r[1] for r in bulk] == [r[1].upper() for r in ROWS]


def test_bulk_bind_lands_every_batch(engine, ctx, tmp_path):
    n = 2500
    engine.execute("CREATE TABLE BIG_BIND (ID INTEGER, S VARCHAR)", ctx)
    stage = _stage_binds(engine, ctx, tmp_path,
                         [[str(i), f"row-{i}"] for i in range(1, n + 1)])
    res = engine.execute(
        "INSERT INTO BIG_BIND (ID, S) VALUES (?, ?)", ctx, bind_stage=stage)
    assert res.rows_inserted == n
    got = engine.execute(
        "SELECT COUNT(*), COUNT(DISTINCT ID), SUM(ID), MIN(S) FROM BIG_BIND", ctx).rows
    assert tuple(got[0]) == (n, n, n * (n + 1) // 2, "row-1")


def test_bulk_bind_rejects_ragged_rows(engine, ctx, tmp_path):
    from snowflake_emulator_spark import errors

    engine.execute("CREATE TABLE RAGGED (ID INTEGER, S VARCHAR)", ctx)
    stage = _stage_binds(engine, ctx, tmp_path, [["1", "a"], ["2"]])
    with pytest.raises(errors.SnowflakeError):
        engine.execute("INSERT INTO RAGGED VALUES (?, ?)", ctx, bind_stage=stage)
    assert _rows(engine, ctx, "RAGGED") == []


def test_bulk_bind_template_with_default(engine, ctx, tmp_path):
    engine.execute("CREATE TABLE DFLT (ID INTEGER, S VARCHAR DEFAULT 'd')", ctx)
    stage = _stage_binds(engine, ctx, tmp_path, [["1"], ["2"]])
    engine.execute("INSERT INTO DFLT VALUES (?, DEFAULT)", ctx, bind_stage=stage)
    assert _rows(engine, ctx, "DFLT") == [(1, "d"), (2, "d")]


def test_bulk_bind_keeps_null_apart_from_the_empty_string(engine, ctx, tmp_path):
    """An unquoted empty field is NULL, a quoted "" the empty string, on
    the INSERT ... SELECT path and on the per-row path."""
    rows = [["1", None, ""], ["2", "5", None]]
    for t, insert in (("NB_BULK", "INSERT INTO NB_BULK (ID, V, S) VALUES (?, ?, ?)"),
                      ("NB_ROW", "INSERT INTO NB_ROW VALUES (?, ?, ?, DEFAULT)")):
        engine.execute(f"CREATE TABLE {t} (ID INT, V INT, S VARCHAR, D INT DEFAULT 0)", ctx)
        engine.execute(insert, ctx, bind_stage=_stage_binds(engine, ctx, tmp_path, rows))
        assert _rows(engine, ctx, t) == [(1, None, "", 0), (2, 5, None, 0)]


def test_one_column_bulk_bind_keeps_null_rows(engine, ctx, tmp_path):
    """In a one-column bind file a NULL row is an empty line, first in
    the file or between two values."""
    rows = [[None], ["a"], [None], ["b"], [""]]
    for t, insert in (("NV_BULK", "INSERT INTO NV_BULK (V) VALUES (?)"),
                      ("NV_ROW", "INSERT INTO NV_ROW VALUES (?, DEFAULT)")):
        engine.execute(f"CREATE TABLE {t} (V VARCHAR, D INT DEFAULT 0)", ctx)
        engine.execute(insert, ctx, bind_stage=_stage_binds(engine, ctx, tmp_path, rows))
        got = engine.execute(
            f"SELECT V, D FROM {t} ORDER BY V NULLS FIRST", ctx).rows
        assert [tuple(r) for r in got] == [(None, 0), (None, 0), ("", 0),
                                           ("a", 0), ("b", 0)]


def test_bulk_bind_rejects_an_empty_line_among_wider_rows(engine, ctx, tmp_path):
    """An empty line is a NULL row only in a one-column file."""
    from snowflake_emulator_spark import errors

    engine.execute("CREATE TABLE GAP (ID INTEGER, S VARCHAR)", ctx)
    stage = _stage_binds(engine, ctx, tmp_path, [["1", "a"], [], ["2", "b"]])
    with pytest.raises(errors.SnowflakeError):
        engine.execute("INSERT INTO GAP VALUES (?, ?)", ctx, bind_stage=stage)
    assert _rows(engine, ctx, "GAP") == []
