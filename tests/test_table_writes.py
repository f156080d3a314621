"""Catalog.write_table: appends add files to a hard-linked next
version, overwrites rewrite from the live version, empty versions are
empty dirs, and a table's file count stays bounded."""

import os
import time

import pytest

from snowflake_emulator_spark import catalog as catalog_mod
from snowflake_emulator_spark.executor import SessionContext


def _count(engine, ctx, table: str) -> int:
    return engine.execute(f"SELECT count(*) AS n FROM {table}", ctx).rows[0][0]


def _files(tm) -> list[str]:
    return catalog_mod.Catalog._data_files(tm.version_path())


def test_append_links_live_files_and_adds_new_ones(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE ap_t (id INTEGER, v VARCHAR)", ctx)
    engine.execute("INSERT INTO ap_t VALUES (1, 'a'), (2, 'b')", ctx)
    tm = engine.catalog.get_table("ap_t", ctx.database, ctx.schema)
    before = {f: os.stat(os.path.join(tm.version_path(), f)).st_ino for f in _files(tm)}
    v0 = tm.version
    engine.execute("INSERT INTO ap_t VALUES (3, 'c')", ctx)
    assert tm.version == v0 + 1
    after = {f: os.stat(os.path.join(tm.version_path(), f)).st_ino for f in _files(tm)}
    # every file of the previous version is the same inode in the new one
    assert all(after.get(f) == ino for f, ino in before.items())
    assert len(after) > len(before)
    res = engine.execute("SELECT id FROM ap_t ORDER BY id", ctx)
    assert [r[0] for r in res.rows] == [1, 2, 3]
    res = engine.execute(f"SELECT count(*) AS n FROM ap_t AT(VERSION => {v0})", ctx)
    assert res.rows[0][0] == 2


def test_empty_versions_are_empty_dirs(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE em_t (id INTEGER, v VARCHAR)", ctx)
    tm = engine.catalog.get_table("em_t", ctx.database, ctx.schema)
    assert _files(tm) == [] and _count(engine, ctx, "em_t") == 0
    engine.execute("INSERT INTO em_t VALUES (1, 'a'), (2, 'b')", ctx)
    engine.execute("TRUNCATE TABLE em_t", ctx)
    assert _files(tm) == [] and _count(engine, ctx, "em_t") == 0
    engine.execute("INSERT INTO em_t VALUES (3, 'c'), (4, 'd'), (5, 'e')", ctx)
    res = engine.execute("DELETE FROM em_t", ctx)
    assert res.rows == [[3]]
    assert _files(tm) == [] and _count(engine, ctx, "em_t") == 0
    engine.execute("INSERT INTO em_t VALUES (6, 'f')", ctx)
    assert _count(engine, ctx, "em_t") == 1


def test_append_file_count_is_bounded(engine, monkeypatch):
    """An append that could leave more than max_data_files files folds
    the live files and its rows into one overwrite."""
    bound = engine.catalog.append_files + 2
    monkeypatch.setattr(engine.catalog, "max_data_files", bound)
    ctx = SessionContext()
    engine.execute("CREATE TABLE fb_t (id INTEGER)", ctx)
    tm = engine.catalog.get_table("fb_t", ctx.database, ctx.schema)
    n = bound + 3
    for i in range(n):
        engine.execute(f"INSERT INTO fb_t VALUES ({i})", ctx)
        assert len(_files(tm)) <= bound
    res = engine.execute("SELECT id FROM fb_t ORDER BY id", ctx)
    assert [r[0] for r in res.rows] == list(range(n))


def test_copy_keeps_time_travel_before_it(engine, tmp_path):
    """COPY writes a new version instead of adding files to the live
    one, so BEFORE(STATEMENT => copy) still sees the table without the
    loaded rows."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE tt_copy (id INTEGER, v VARCHAR)", ctx)
    engine.execute("INSERT INTO tt_copy VALUES (1, 'a')", ctx)
    time.sleep(1.2)
    engine.execute("CREATE STAGE tt_copy_s", ctx)
    f = tmp_path / "two.csv"
    f.write_text("2,b\n3,c\n")
    engine.stages.put_file(
        engine.catalog.get("STAGE", "tt_copy_s", ctx.database, ctx.schema), str(f))
    qid = engine.execute("COPY INTO tt_copy FROM @tt_copy_s/two.csv", ctx).query_id
    res = engine.execute(
        f"SELECT count(*) AS n FROM tt_copy BEFORE(STATEMENT => '{qid}')", ctx)
    assert res.rows[0][0] == 1
    res = engine.execute(
        f"SELECT count(*) AS n FROM tt_copy AT(STATEMENT => '{qid}')", ctx)
    assert res.rows[0][0] == 3


def test_multi_file_copy_is_one_version(engine, tmp_path):
    """A COPY of several files appends them as one version, so the
    versions before it survive GC and time travel still reaches them."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE tt_mcopy (id INTEGER, v VARCHAR)", ctx)
    engine.execute("INSERT INTO tt_mcopy VALUES (1, 'a')", ctx)
    tm = engine.catalog.get_table("tt_mcopy", ctx.database, ctx.schema)
    pre = tm.version
    time.sleep(1.2)
    engine.execute("CREATE STAGE tt_mcopy_s", ctx)
    stage = engine.catalog.get("STAGE", "tt_mcopy_s", ctx.database, ctx.schema)
    for i in range(4):
        f = tmp_path / f"part{i}.csv"
        f.write_text(f"{10 + 2 * i},x\n{11 + 2 * i},y\n")
        engine.stages.put_file(stage, str(f))
    r = engine.execute("COPY INTO tt_mcopy FROM @tt_mcopy_s", ctx)
    assert (r.files_loaded, r.rows_loaded) == (4, 8)
    assert tm.version == pre + 1
    res = engine.execute(
        f"SELECT count(*) AS n FROM tt_mcopy BEFORE(STATEMENT => '{r.query_id}')", ctx)
    assert res.rows[0][0] == 1
    res = engine.execute(f"SELECT count(*) AS n FROM tt_mcopy AT(VERSION => {pre})", ctx)
    assert res.rows[0][0] == 1
    assert _count(engine, ctx, "tt_mcopy") == 9


def test_failed_check_publishes_nothing(engine):
    """An error from write_table's check discards the written version:
    the pointer stays, and the unpublished dir is removed."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE ck_t (id INTEGER)", ctx)
    engine.execute("INSERT INTO ck_t VALUES (1), (2)", ctx)
    tm = engine.catalog.get_table("ck_t", ctx.database, ctx.schema)
    v0 = tm.version

    def reject():
        raise RuntimeError("rejected")

    with pytest.raises(RuntimeError, match="rejected"):
        engine.catalog.write_table(tm, lambda live: live.limit(0), check=reject)
    assert tm.version == v0
    assert not os.path.exists(tm.version_path(v0 + 1))
    assert _count(engine, ctx, "ck_t") == 2


def test_copy_error_found_after_the_read_names_the_file(engine, tmp_path):
    """A file that fails only while its rows are written (a cast error)
    is found among the COPY's files: SKIP_FILE loads the others as one
    version, ABORT_STATEMENT names it and loads nothing."""
    ctx = SessionContext()
    engine.execute("CREATE STAGE ce_s", ctx)
    stage = engine.catalog.get("STAGE", "ce_s", ctx.database, ctx.schema)
    for name, body in (("a.csv", "1,x\n"), ("b.csv", "oops,y\n"), ("c.csv", "3,z\n")):
        f = tmp_path / name
        f.write_text(body)
        engine.stages.put_file(stage, str(f))
    for t in ("ce_skip", "ce_abort"):
        engine.execute(f"CREATE TABLE {t} (id INTEGER, v VARCHAR)", ctx)
    tm = engine.catalog.get_table("ce_skip", ctx.database, ctx.schema)
    v0 = tm.version
    r = engine.execute("COPY INTO ce_skip FROM @ce_s ON_ERROR=SKIP_FILE", ctx)
    assert r.files_loaded == 2 and len(r.errors) == 1 and r.errors[0].startswith("b.csv")
    assert tm.version == v0 + 1
    res = engine.execute("SELECT id FROM ce_skip ORDER BY id", ctx)
    assert [row[0] for row in res.rows] == [1, 3]
    with pytest.raises(Exception, match="COPY failed on b.csv"):
        engine.execute("COPY INTO ce_abort FROM @ce_s ON_ERROR=ABORT_STATEMENT", ctx)
    assert _count(engine, ctx, "ce_abort") == 0
