"""Reads pin the table versions they read.

Every table read of a statement (live, AT/BEFORE, or a stream's source)
binds the temp view ``__t<uid>_v<N>`` of a version it pinned for the
statement, so version GC cannot delete its files mid-read; RENAME and
SWAP move names, not data or views."""

import os
import re
import threading
import warnings

import pytest

from snowflake_emulator_spark import errors
from snowflake_emulator_spark import statements as statements_mod
from snowflake_emulator_spark.result import Result
from snowflake_emulator_spark.sessions import SessionContext


@pytest.fixture()
def ctx():
    return SessionContext()


def _publish_between_analysis_and_collect(monkeypatch, engine, table: str, n: int) -> None:
    """Make the next statement that collects a result first wait for
    ``n`` single-row appends to ``table``, run by another session: its
    plan is analyzed over the version it read, and that version is no
    longer among the newest ``n``."""
    real = Result.from_dataframe.__func__
    pending = [n]

    def hooked(cls, df, *a, **k):
        if pending:
            count = pending.pop()

            def appends():
                other = SessionContext()
                for i in range(count):
                    engine.execute(f"INSERT INTO {table} VALUES ({100 + i})", other)

            t = threading.Thread(target=appends)
            t.start()
            t.join()
        return real(cls, df, *a, **k)

    monkeypatch.setattr(Result, "from_dataframe", classmethod(hooked))


def _gc_race_table(engine, ctx):
    engine.execute("CREATE TABLE GC_RACE (ID INTEGER)", ctx)
    for i in (1, 2, 3):
        engine.execute(f"INSERT INTO GC_RACE VALUES ({i})", ctx)
    return engine.catalog.get_table("GC_RACE", ctx.database, ctx.schema)


def test_plain_read_survives_gc_of_its_version(engine, ctx, monkeypatch):
    tm = _gc_race_table(engine, ctx)
    read_v = tm.version
    _publish_between_analysis_and_collect(monkeypatch, engine, "GC_RACE",
                                          tm.retention_versions + 1)
    rows = engine.execute("SELECT ID FROM GC_RACE ORDER BY ID", ctx).rows
    assert rows == [[1], [2], [3]]
    assert tm.version == read_v + tm.retention_versions + 1
    # the pin ended with the statement: the next write collects it
    engine.execute("INSERT INTO GC_RACE VALUES (0)", ctx)
    assert not os.path.isdir(tm.version_path(read_v))
    assert not engine.catalog._tt_pins


def test_at_read_survives_gc_of_its_version(engine, ctx, monkeypatch):
    tm = _gc_race_table(engine, ctx)
    _publish_between_analysis_and_collect(monkeypatch, engine, "GC_RACE",
                                          tm.retention_versions + 1)
    rows = engine.execute(
        f"SELECT ID FROM GC_RACE AT(VERSION => {tm.version - 1}) ORDER BY ID", ctx).rows
    assert rows == [[1], [2]]


def test_stream_read_survives_gc_of_its_source_version(engine, ctx, monkeypatch):
    engine.execute("CREATE TABLE GC_RACE (ID INTEGER)", ctx)
    engine.execute("INSERT INTO GC_RACE VALUES (1)", ctx)
    engine.execute("CREATE STREAM GC_S ON TABLE GC_RACE", ctx)
    engine.execute("INSERT INTO GC_RACE VALUES (2)", ctx)
    engine.execute("INSERT INTO GC_RACE VALUES (3)", ctx)
    tm = engine.catalog.get_table("GC_RACE", ctx.database, ctx.schema)
    _publish_between_analysis_and_collect(monkeypatch, engine, "GC_RACE",
                                          tm.retention_versions + 1)
    rows = engine.execute(
        "SELECT ID, METADATA$ACTION FROM GC_S ORDER BY ID", ctx).rows
    assert rows == [[2, "INSERT"], [3, "INSERT"]]


def test_query_df_outside_a_statement_leaves_no_pins(engine, ctx):
    engine.execute("CREATE TABLE QD (ID INTEGER)", ctx)
    engine.execute("INSERT INTO QD VALUES (1), (2)", ctx)
    df = engine.sql("SELECT ID FROM QD AT(VERSION => 2) UNION ALL SELECT ID FROM QD", ctx)
    assert getattr(engine.executor._tt_local, "pins", []) == []
    assert not engine.catalog._tt_pins
    assert sorted(r[0] for r in df.collect()) == [1, 1, 2, 2]


def _version_views(spark) -> dict[int, set[int]]:
    views: dict[int, set[int]] = {}
    for t in spark.catalog.listTables():
        m = re.fullmatch(r"__t(\d+)_v(\d+)", t.name)
        if t.isTemporary and m:
            views.setdefault(int(m.group(1)), set()).add(int(m.group(2)))
    return views


def test_version_views_exist_only_for_version_dirs(engine, ctx):
    """After writes, AT reads, SWAP, RENAME, DROP/UNDROP and ROLLBACK,
    each version view of the workload's tables is over a version dir
    that exists, and no per-statement time-travel view remains."""
    cat = engine.catalog
    uids = {}
    for name in ("VA", "VB", "VC"):
        engine.execute(f"CREATE TABLE {name} (ID INTEGER)", ctx)
        uids[name] = cat.get_table(name, ctx.database, ctx.schema).uid
        for i in range(5):
            engine.execute(f"INSERT INTO {name} VALUES ({i})", ctx)
        live = cat.get_table(name, ctx.database, ctx.schema).version
        engine.execute(f"SELECT * FROM {name} AT(VERSION => {live - 1})", ctx)
        engine.execute(f"SELECT * FROM {name} BEFORE(VERSION => {live})", ctx)
    engine.execute("ALTER TABLE VA SWAP WITH VB", ctx)
    engine.execute("ALTER TABLE VC RENAME TO VD", ctx)
    engine.execute("UPDATE VD SET ID = ID + 1", ctx)
    engine.execute("DROP TABLE VA", ctx)
    engine.execute("SELECT COUNT(*) FROM VB", ctx)
    engine.execute("UNDROP TABLE VA", ctx)
    assert engine.execute("SELECT COUNT(*) FROM VA", ctx).rows == [[5]]
    engine.execute("BEGIN", ctx)
    engine.execute("INSERT INTO VB VALUES (9)", ctx)
    engine.execute("SELECT COUNT(*) FROM VB", ctx)
    engine.execute("ROLLBACK", ctx)
    assert engine.execute("SELECT COUNT(*) FROM VB", ctx).rows == [[5]]
    engine.execute("INSERT INTO VB VALUES (9)", ctx)
    engine.execute("DROP TABLE VD", ctx)

    views = _version_views(engine.spark)
    by_uid = {tm.uid: tm for tm in cat.tables.values()}
    for uid in uids.values():
        if uid not in by_uid:  # dropped: no view survives it
            assert uid not in views
            continue
        tm = by_uid[uid]
        for v in views.get(uid, ()):
            assert os.path.isdir(tm.version_path(v)), (tm.name, v)
    assert not [t.name for t in engine.spark.catalog.listTables()
                if t.isTemporary and "__at_v" in t.name.lower()]
    assert not cat._tt_pins


def test_rename_is_a_metadata_move(engine, ctx):
    """ALTER TABLE ... RENAME TO keeps the table: its kind, clustering
    key, comment, row access policy and versions, without a Spark job."""
    engine.execute("CREATE TRANSIENT TABLE RN_SRC (ID INTEGER, V VARCHAR) "
                   "CLUSTER BY (ID) COMMENT = 'kept'", ctx)
    engine.execute("INSERT INTO RN_SRC VALUES (1, 'a'), (2, 'b')", ctx)
    engine.execute("INSERT INTO RN_SRC VALUES (3, 'c')", ctx)
    engine.execute("CREATE ROW ACCESS POLICY RN_RAP AS (I INTEGER) RETURNS BOOLEAN -> I = 1", ctx)
    engine.execute("ALTER TABLE RN_SRC ADD ROW ACCESS POLICY RN_RAP ON (ID)", ctx)
    before = engine.catalog.get_table("RN_SRC", ctx.database, ctx.schema)
    old_v = before.version

    # each statement runs under the job group of its query id
    tracker = engine.spark.sparkContext.statusTracker()
    renamed = engine.execute("ALTER TABLE RN_SRC RENAME TO RN_DST", ctx)
    renamed_jobs = list(tracker.getJobIdsForGroup(renamed.query_id))
    read = engine.execute("SELECT * FROM RN_DST", ctx)
    assert read.rows == [[1, "a"]]
    assert tracker.getJobIdsForGroup(read.query_id)  # the probe sees jobs
    assert renamed_jobs == []

    tm = engine.catalog.get_table("RN_DST", ctx.database, ctx.schema)
    assert tm is before
    assert (tm.kind, tm.clustering_key, tm.comment) == ("TRANSIENT", "ID", "kept")
    assert tm.row_access_policy is not None
    assert not engine.catalog.has_table("RN_SRC", ctx.database, ctx.schema)
    assert engine.execute(f"SELECT * FROM RN_DST AT(VERSION => {old_v})", ctx).rows == [[1, "a"]]
    with pytest.raises(errors.SnowflakeError):
        engine.execute("SELECT * FROM RN_SRC", ctx)
    # the old name is free again
    engine.execute("CREATE TABLE RN_SRC (X INTEGER)", ctx)
    assert engine.execute("SELECT COUNT(*) FROM RN_SRC", ctx).rows == [[0]]
    assert engine.execute("SELECT COUNT(*) FROM RN_DST", ctx).rows == [[1]]


def test_rename_onto_an_existing_name_fails(engine, ctx):
    engine.execute("CREATE TABLE RN_A (ID INTEGER)", ctx)
    engine.execute("CREATE TABLE RN_B (ID INTEGER)", ctx)
    with pytest.raises(errors.SnowflakeError, match="already exists"):
        engine.execute("ALTER TABLE RN_A RENAME TO RN_B", ctx)
    assert engine.catalog.has_table("RN_A", ctx.database, ctx.schema)


def test_spark_error_mapping_emits_no_deprecation_warning(engine, ctx):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with pytest.raises(errors.SnowflakeError) as exc:
            engine.execute("SELECT 1 +* 2", ctx)
    assert exc.value.code == "001003"
    assert not [w for w in caught if issubclass(w.category, FutureWarning)]


def test_history_is_bounded_in_memory(engine, ctx, monkeypatch):
    monkeypatch.setattr(statements_mod, "HISTORY_CAP", 5)
    engine.execute("CREATE TABLE HC (ID INTEGER)", ctx)
    for i in range(8):
        engine.execute("SELECT 1", ctx)
        assert len(engine.statements.recent(100)) <= 5
    res = engine.execute("INSERT INTO HC VALUES (1)", ctx)
    engine.execute("INSERT INTO HC VALUES (2)", ctx)
    assert len(engine.statements.recent(100)) == 5
    assert engine.execute(
        f"SELECT ID FROM HC AT(STATEMENT => '{res.query_id}')", ctx).rows == [[1]]
    shown = engine.execute("SHOW QUERY HISTORY", ctx).rows
    assert 0 < len(shown) <= 5
    # a restart reloads no more than the cap either
    reloaded = statements_mod.StatementStore(engine.spark, engine.statements._log_path)
    assert len(reloaded.recent(100)) == 5


def test_reads_and_appends_race_with_one_retained_version(engine, ctx):
    """Readers of the live version race appends under a retention of one
    version, so every publish collects the version before it unless a
    read pins it: every read succeeds, each reader's counts never go
    back, no append is lost and no pin outlives its statement."""
    import sys

    engine.execute("CREATE TABLE RACE (ID INTEGER)", ctx)
    engine.execute("INSERT INTO RACE VALUES (0)", ctx)
    engine.execute("ALTER TABLE RACE SET DATA_RETENTION_VERSIONS = 1", ctx)
    failures, counts = [], {}

    def reader(k: int) -> None:
        mine = counts.setdefault(k, [])
        try:
            for i in range(4):
                mine.append(engine.execute(
                    f"SELECT COUNT(*), {k * 10 + i} FROM RACE", SessionContext()).rows[0][0])
        except Exception as e:  # noqa: BLE001 - collected for the assertion
            failures.append(e)

    def writer(k: int) -> None:
        try:
            for i in range(4):
                engine.execute(f"INSERT INTO RACE VALUES ({k * 10 + i})", SessionContext())
        except Exception as e:  # noqa: BLE001 - collected for the assertion
            failures.append(e)

    threads = ([threading.Thread(target=reader, args=(k,)) for k in range(4)]
               + [threading.Thread(target=writer, args=(k,)) for k in range(2)])
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert failures == []
    for mine in counts.values():
        assert mine == sorted(mine) and all(1 <= c <= 9 for c in mine)
    assert engine.execute("SELECT COUNT(*) FROM RACE", ctx).rows == [[9]]
    assert not engine.catalog._tt_pins
