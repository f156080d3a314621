"""State a statement leaves behind: result-cache stamps, stream offsets
and Spark temp views belong to the statement that made them."""

import pytest

from snowflake_emulator_spark import errors
from snowflake_emulator_spark.executor import SessionContext


@pytest.fixture()
def ctx():
    return SessionContext()


def test_result_cache_does_not_serve_rows_from_before_an_overlapping_write(
        engine, ctx, monkeypatch):
    """A write that commits while a SELECT collects must not leave the
    SELECT's older rows cached as current."""
    from snowflake_emulator_spark import result

    engine.execute("CREATE TABLE RC_T (ID INTEGER, X INTEGER)", ctx)
    engine.execute("INSERT INTO RC_T VALUES (1, 10)", ctx)
    query = "SELECT X FROM RC_T WHERE ID = 1"
    orig = result.Result.from_dataframe.__func__
    fired = []

    def update_mid_read(cls, df, *args, **kwargs):
        if not fired:
            fired.append(True)
            engine.execute("UPDATE RC_T SET X = 20 WHERE ID = 1", SessionContext())
        return orig(cls, df, *args, **kwargs)

    monkeypatch.setattr(result.Result, "from_dataframe", classmethod(update_mid_read))
    first = engine.execute(query, ctx).rows
    monkeypatch.undo()
    assert fired and first == [[10]]  # the read began before the write
    assert engine.execute(query, ctx).rows == [[20]]
    assert engine.execute(query + " AND 1=1", ctx).rows == [[20]]


def test_dml_consumes_only_the_streams_it_reads(engine, ctx):
    engine.execute("CREATE TABLE SRC (X INTEGER)", ctx)
    engine.execute("CREATE STREAM S1 ON TABLE SRC", ctx)
    engine.execute("INSERT INTO SRC VALUES (1)", ctx)
    engine.execute("CREATE TABLE OTHER (X INTEGER, S1 INTEGER)", ctx)
    # S1 is only a column alias here: the stream keeps its pending row
    engine.execute("INSERT INTO OTHER SELECT 5 AS X, 7 AS S1", ctx)
    assert engine.execute("SELECT COUNT(*) FROM S1", ctx).rows == [[1]]
    # reading the stream consumes it
    engine.execute("INSERT INTO OTHER SELECT X, 0 FROM S1", ctx)
    assert engine.execute("SELECT COUNT(*) FROM S1", ctx).rows == [[0]]
    engine.execute("INSERT INTO SRC VALUES (2)", ctx)
    engine.execute("MERGE INTO OTHER o USING (SELECT X FROM S1) s ON o.X = s.X "
                   "WHEN NOT MATCHED THEN INSERT (X, S1) VALUES (s.X, 1)", ctx)
    assert engine.execute("SELECT COUNT(*) FROM S1", ctx).rows == [[0]]
    assert engine.execute("SELECT COUNT(*) FROM OTHER", ctx).rows == [[3]]


_STATEMENT_VIEWS = ("__binds_", "__merge_", "__dml_", "__copy_xform_", "__at_v",
                    "__match_recognize_")


def _statement_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()
            if t.isTemporary and any(p in t.name.lower() for p in _STATEMENT_VIEWS)}


def test_statements_drop_their_temp_views(engine, ctx, tmp_path):
    """A bulk bind, a MERGE, a COPY transform, a time-travel read, a
    MATCH_RECOGNIZE, an UPDATE ... FROM, a DELETE and a failed MERGE
    leave no temp view in Spark's shared namespace."""
    before = _statement_views(engine.spark)
    engine.execute("CREATE TABLE TV_T (ID INTEGER, NAME VARCHAR)", ctx)
    engine.execute("INSERT INTO TV_T VALUES (1, 'a')", ctx)
    engine.execute("CREATE STAGE TV_STAGE", ctx)
    binds = tmp_path / "binds" / "b_0.csv"
    binds.parent.mkdir()
    binds.write_text("2,b\n3,c\n")
    engine.execute(f"PUT file://{binds} @TV_STAGE/binds", ctx)
    engine.execute("INSERT INTO TV_T VALUES (?, ?)", ctx, bind_stage="TV_STAGE/binds")
    engine.execute("MERGE INTO TV_T t USING (SELECT 1 AS ID, 'z' AS NAME) s "
                   "ON t.ID = s.ID WHEN MATCHED THEN UPDATE SET NAME = s.NAME", ctx)
    raw = tmp_path / "raw" / "raw.csv"
    raw.parent.mkdir()
    raw.write_text("4,d\n")
    engine.execute(f"PUT file://{raw} @TV_STAGE/raw", ctx)
    engine.execute("COPY INTO TV_T FROM (SELECT $1, UPPER($2) FROM @TV_STAGE/raw) "
                   "FILE_FORMAT=(TYPE=CSV)", ctx)
    live = engine.catalog.get_table("TV_T", ctx.database, ctx.schema).version
    assert engine.execute(f"SELECT COUNT(*) FROM TV_T AT(VERSION => {live})",
                          ctx).rows == [[4]]
    assert engine.execute("SELECT ID, NAME FROM TV_T ORDER BY ID", ctx).rows == [
        [1, "z"], [2, "b"], [3, "c"], [4, "D"]]
    assert len(engine.execute(
        "SELECT * FROM TV_T MATCH_RECOGNIZE (PARTITION BY NAME ORDER BY ID "
        "PATTERN (A) DEFINE A AS ID > 2)", ctx).rows) == 2
    engine.execute("UPDATE TV_T SET NAME = s.NAME FROM (SELECT 2 AS ID, 'y' AS NAME) s "
                   "WHERE TV_T.ID = s.ID", ctx)
    engine.execute("DELETE FROM TV_T WHERE ID = 4", ctx)
    with pytest.raises(errors.SnowflakeError, match="Duplicate row"):
        engine.execute("MERGE INTO TV_T t USING (SELECT 1 AS ID UNION ALL SELECT 1) s "
                       "ON t.ID = s.ID WHEN MATCHED THEN DELETE", ctx)
    assert engine.execute("SELECT ID, NAME FROM TV_T ORDER BY ID", ctx).rows == [
        [1, "z"], [2, "y"], [3, "c"]]
    assert _statement_views(engine.spark) - before == set()
