"""End-to-end slice mirroring the reference's e2e workflow
(`/root/reference/tests/e2e/gosnowflake_test.go:533-912`):
CREATE TABLE -> INSERT -> SELECT with translated functions -> UPDATE ->
DELETE -> MERGE -> transactions -> SHOW/DESCRIBE."""

import pytest

from snowflake_emulator_spark.executor import SessionContext


def _rows(res):
    return [tuple(r) for r in res.rows]


def test_create_insert_select_iff(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE test_operations (id INTEGER PRIMARY KEY, name VARCHAR, score INTEGER)", ctx)
    engine.execute("INSERT INTO test_operations VALUES (1,'Alice',95),(2,'Bob',85),(3,'Charlie',92)", ctx)
    res = engine.execute(
        "SELECT name, IFF(score >= 90, 'A', 'B') AS grade FROM test_operations ORDER BY id", ctx
    )
    assert _rows(res) == [("Alice", "A"), ("Bob", "B"), ("Charlie", "A")]


def test_update_delete(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE t (id INTEGER, name VARCHAR, score INTEGER)", ctx)
    engine.execute("INSERT INTO t VALUES (1,'a',10),(2,'b',20),(3,'c',30)", ctx)
    r = engine.execute("UPDATE t SET score = score + 5 WHERE id >= 2", ctx)
    assert r.rows_updated == 2
    res = engine.execute("SELECT id, score FROM t ORDER BY id", ctx)
    assert _rows(res) == [(1, 10), (2, 25), (3, 35)]
    r = engine.execute("DELETE FROM t WHERE id = 1", ctx)
    assert r.rows_deleted == 1
    res = engine.execute("SELECT count(*) AS n FROM t", ctx)
    assert _rows(res) == [(3 - 1,)]


def test_merge(engine):
    """Fixture semantics from gosnowflake_test.go:449-487: id 2 updated,
    id 3 inserted."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE merge_target (id INTEGER, name VARCHAR, value INTEGER)", ctx)
    engine.execute("CREATE TABLE merge_source (id INTEGER, name VARCHAR, value INTEGER)", ctx)
    engine.execute("INSERT INTO merge_target VALUES (1,'Alice',100),(2,'Bob',200)", ctx)
    engine.execute("INSERT INTO merge_source VALUES (2,'Bob Updated',250),(3,'Charlie',300)", ctx)
    r = engine.execute(
        """MERGE INTO merge_target AS t USING merge_source AS s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET t.name = s.name, t.value = s.value
           WHEN NOT MATCHED THEN INSERT (id, name, value) VALUES (s.id, s.name, s.value)""",
        ctx,
    )
    assert (r.rows_inserted, r.rows_updated, r.rows_deleted) == (1, 1, 0)
    res = engine.execute("SELECT id, name, value FROM merge_target ORDER BY id", ctx)
    assert _rows(res) == [(1, "Alice", 100), (2, "Bob Updated", 250), (3, "Charlie", 300)]


def test_merge_delete_and_conditions(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE mt (id INTEGER, v INTEGER)", ctx)
    engine.execute("CREATE TABLE ms (id INTEGER, v INTEGER)", ctx)
    engine.execute("INSERT INTO mt VALUES (1,10),(2,20),(3,30)", ctx)
    engine.execute("INSERT INTO ms VALUES (1,0),(2,99),(4,40)", ctx)
    r = engine.execute(
        """MERGE INTO mt USING ms ON mt.id = ms.id
           WHEN MATCHED AND ms.v = 0 THEN DELETE
           WHEN MATCHED THEN UPDATE SET v = ms.v
           WHEN NOT MATCHED THEN INSERT (id, v) VALUES (ms.id, ms.v)""",
        ctx,
    )
    assert (r.rows_inserted, r.rows_updated, r.rows_deleted) == (1, 1, 1)
    res = engine.execute("SELECT id, v FROM mt ORDER BY id", ctx)
    assert _rows(res) == [(2, 99), (3, 30), (4, 40)]


def test_transactions_rollback(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE tx (id INTEGER)", ctx)
    engine.execute("INSERT INTO tx VALUES (1)", ctx)
    engine.execute("BEGIN", ctx)
    engine.execute("INSERT INTO tx VALUES (2),(3)", ctx)
    engine.execute("ROLLBACK", ctx)
    res = engine.execute("SELECT count(*) AS n FROM tx", ctx)
    assert _rows(res) == [(1,)]
    engine.execute("BEGIN", ctx)
    engine.execute("INSERT INTO tx VALUES (2)", ctx)
    engine.execute("COMMIT", ctx)
    res = engine.execute("SELECT count(*) AS n FROM tx", ctx)
    assert _rows(res) == [(2,)]


def test_show_describe(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE show_me (id INTEGER NOT NULL, name VARCHAR DEFAULT 'x')", ctx)
    res = engine.execute("SHOW TABLES", ctx)
    assert any(r[0] == "SHOW_ME" for r in res.rows)
    res = engine.execute("DESCRIBE TABLE show_me", ctx)
    assert res.rows[0][0] == "ID" and res.rows[0][3] == "N"
    assert res.rows[1][4] == "'x'"


def test_ddl_database_schema(engine):
    ctx = SessionContext()
    engine.execute("CREATE DATABASE mydb", ctx)
    engine.execute("CREATE SCHEMA mydb.s1", ctx)
    engine.execute("USE SCHEMA mydb.s1", ctx)
    assert ctx.database == "MYDB" and ctx.schema == "S1"
    engine.execute("CREATE TABLE t1 (id INTEGER)", ctx)
    engine.execute("INSERT INTO t1 VALUES (42)", ctx)
    res = engine.execute("SELECT id FROM mydb.s1.t1", ctx)
    assert _rows(res) == [(42,)]
    with pytest.raises(Exception):
        engine.execute("CREATE DATABASE mydb", ctx)


def test_bindings(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE bind_t (id INTEGER, name VARCHAR)", ctx)
    engine.execute("INSERT INTO bind_t VALUES (1,'x'),(2,'y')", ctx)
    res = engine.execute(
        "SELECT name FROM bind_t WHERE id = :1",
        ctx,
        bindings={"1": {"type": "FIXED", "value": "2"}},
    )
    assert _rows(res) == [("y",)]
    res = engine.execute(
        "SELECT name FROM bind_t WHERE name = ? ORDER BY id",
        ctx,
        bindings={"1": {"type": "TEXT", "value": "x"}},
    )
    assert _rows(res) == [("x",)]


def test_copy_into_csv(engine, tmp_path):
    ctx = SessionContext()
    engine.execute("CREATE TABLE copy_t (id INTEGER, name VARCHAR)", ctx)
    engine.execute("CREATE STAGE mystage", ctx)
    stage = engine.catalog.get("STAGE", "mystage")
    (tmp_path / "data.csv").write_text("id,name\n1,Alice\n2,Bob\n")
    engine.stages.put_file(stage, str(tmp_path / "data.csv"))
    r = engine.execute(
        "COPY INTO copy_t FROM @mystage FILE_FORMAT=(TYPE=CSV SKIP_HEADER=1)", ctx
    )
    assert r.rows_loaded == 2 and r.files_loaded == 1
    res = engine.execute("SELECT id, name FROM copy_t ORDER BY id", ctx)
    assert _rows(res) == [(1, "Alice"), (2, "Bob")]


def test_update_from_and_delete_using(engine):
    """Multi-table DML (Snowflake UPDATE..FROM / DELETE..USING; the
    reference emits these in decomposed MERGE,
    merge_processor.go:493-582)."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE uf_t (id INTEGER, v INTEGER)", ctx)
    engine.execute("CREATE TABLE uf_s (id INTEGER, v INTEGER)", ctx)
    engine.execute("INSERT INTO uf_t VALUES (1,10),(2,20),(3,30)", ctx)
    engine.execute("INSERT INTO uf_s VALUES (1,100),(3,300),(4,400)", ctx)
    r = engine.execute(
        "UPDATE uf_t t SET t.v = s.v FROM uf_s s WHERE t.id = s.id", ctx
    )
    assert r.rows_updated == 2
    res = engine.execute("SELECT id, v FROM uf_t ORDER BY id", ctx)
    assert _rows(res) == [(1, 100), (2, 20), (3, 300)]
    r = engine.execute(
        "DELETE FROM uf_t t USING uf_s s WHERE t.id = s.id AND s.v > 200", ctx
    )
    assert r.rows_deleted == 1
    res = engine.execute("SELECT id FROM uf_t ORDER BY id", ctx)
    assert _rows(res) == [(1,), (2,)]


def test_rollback_survives_many_writes(engine):
    """The transaction snapshot version must survive version GC even
    after more writes than the GC keep-window."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE gc_tx (id INTEGER)", ctx)
    engine.execute("INSERT INTO gc_tx VALUES (1)", ctx)
    engine.execute("BEGIN", ctx)
    for i in range(2, 8):  # 6 writes > keep-window of 3
        engine.execute(f"INSERT INTO gc_tx VALUES ({i})", ctx)
    engine.execute("ROLLBACK", ctx)
    res = engine.execute("SELECT count(*) AS n FROM gc_tx", ctx)
    assert _rows(res) == [(1,)]


def test_merge_multi_match_dedup(engine):
    """A target row matched by N source rows must yield exactly ONE
    output row (reference decomposed UPDATE..FROM updates each target
    row once, merge_processor.go:493-548) — r1 duplicated the row."""
    ctx = SessionContext()
    # pick-first semantics under test -> opt out of the strict default
    engine.execute("ALTER SESSION SET ERROR_ON_NONDETERMINISTIC_MERGE = FALSE", ctx)
    engine.execute("CREATE TABLE mm_t (id INTEGER, v INTEGER)", ctx)
    engine.execute("CREATE TABLE mm_s (id INTEGER, v INTEGER)", ctx)
    engine.execute("INSERT INTO mm_t VALUES (1,10),(2,20)", ctx)
    engine.execute("INSERT INTO mm_s VALUES (1,100),(1,101),(1,102),(3,30)", ctx)
    r = engine.execute(
        """MERGE INTO mm_t USING mm_s ON mm_t.id = mm_s.id
           WHEN MATCHED THEN UPDATE SET v = mm_s.v
           WHEN NOT MATCHED THEN INSERT (id, v) VALUES (mm_s.id, mm_s.v)""",
        ctx,
    )
    assert (r.rows_inserted, r.rows_updated, r.rows_deleted) == (1, 1, 0)
    res = engine.execute("SELECT id, count(*) AS n FROM mm_t GROUP BY id ORDER BY id", ctx)
    assert _rows(res) == [(1, 1), (2, 1), (3, 1)]
    # deterministic first match: lowest __sid (insertion order) with an
    # actionable clause wins
    res = engine.execute("SELECT v FROM mm_t WHERE id = 1", ctx)
    assert res.rows[0][0] in (100, 101, 102)


def test_update_from_set_null(engine):
    """SET x = NULL / SET x = s.nullable must write NULL, not silently
    keep the old value (r1 used coalesce to detect matches)."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE uf_t (id INTEGER, v INTEGER)", ctx)
    engine.execute("CREATE TABLE uf_s (id INTEGER, nv INTEGER)", ctx)
    engine.execute("INSERT INTO uf_t VALUES (1,10),(2,20),(3,30)", ctx)
    engine.execute("INSERT INTO uf_s VALUES (1,NULL),(2,99)", ctx)
    r = engine.execute(
        "UPDATE uf_t SET v = uf_s.nv FROM uf_s WHERE uf_t.id = uf_s.id", ctx
    )
    assert r.rows_updated == 2
    res = engine.execute("SELECT id, v FROM uf_t ORDER BY id", ctx)
    assert _rows(res) == [(1, None), (2, 99), (3, 30)]


def test_transactions_per_session_isolation(engine):
    """Two sessions' transactions are independent: session B's BEGIN/
    ROLLBACK must not clobber or revert session A's work (the reference
    gets per-connection transactions from DuckDB)."""
    a, b = SessionContext(), SessionContext()
    engine.execute("CREATE TABLE tx_iso (id INTEGER)", a)
    engine.execute("INSERT INTO tx_iso VALUES (1)", a)

    engine.execute("BEGIN", a)
    engine.execute("INSERT INTO tx_iso VALUES (2)", a)
    # B opens and rolls back its own (empty) transaction: A's open
    # transaction and its uncommitted write stay intact
    engine.execute("BEGIN", b)
    engine.execute("ROLLBACK", b)
    res = engine.execute("SELECT count(*) AS n FROM tx_iso", a)
    assert _rows(res) == [(2,)]
    # A rolls back: only A's write disappears
    engine.execute("ROLLBACK", a)
    res = engine.execute("SELECT count(*) AS n FROM tx_iso", a)
    assert _rows(res) == [(1,)]


def test_rollback_keeps_other_sessions_commits(engine):
    """ROLLBACK restores only tables the transaction itself wrote:
    another session's committed write to a DIFFERENT table in the
    interim survives."""
    a, b = SessionContext(), SessionContext()
    engine.execute("CREATE TABLE tx_mine (id INTEGER)", a)
    engine.execute("CREATE TABLE tx_theirs (id INTEGER)", a)
    engine.execute("BEGIN", a)
    engine.execute("INSERT INTO tx_mine VALUES (1)", a)
    # B commits to the other table while A's tx is open
    engine.execute("INSERT INTO tx_theirs VALUES (42)", b)
    engine.execute("ROLLBACK", a)
    res = engine.execute("SELECT count(*) AS n FROM tx_mine", a)
    assert _rows(res) == [(0,)]
    res = engine.execute("SELECT count(*) AS n FROM tx_theirs", a)
    assert _rows(res) == [(1,)]


def test_copy_inside_transaction_rolls_back(engine, tmp_path):
    """COPY INTO uses an in-place fast-append, but when the current
    version is pinned by an open transaction snapshot it must land in a
    fresh version so ROLLBACK undoes the load."""
    ctx = SessionContext()
    f = tmp_path / "tx_copy.csv"
    f.write_text("id,v\n10,x\n20,y\n")
    engine.execute("CREATE TABLE tx_copy (id INTEGER, v VARCHAR)", ctx)
    engine.execute("INSERT INTO tx_copy VALUES (1,'pre')", ctx)
    engine.execute("CREATE STAGE txstage", ctx)
    engine.stages.put_file(engine.catalog.get("STAGE", "txstage"), str(f))
    engine.execute("BEGIN", ctx)
    engine.execute(
        "COPY INTO tx_copy FROM @txstage FILE_FORMAT = (TYPE = 'CSV' SKIP_HEADER = 1)", ctx)
    res = engine.execute("SELECT count(*) AS n FROM tx_copy", ctx)
    assert _rows(res) == [(3,)]
    engine.execute("ROLLBACK", ctx)
    res = engine.execute("SELECT count(*) AS n FROM tx_copy", ctx)
    assert _rows(res) == [(1,)]


def test_resolve_names_identifier_aware(engine):
    """Name resolution must not rewrite table names inside string
    literals or comments, and must still resolve qualified names."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE resv (id INTEGER, label VARCHAR)", ctx)
    engine.execute("INSERT INTO resv VALUES (1, 'resv')", ctx)
    # the literal 'resv' and the comment mention must survive verbatim
    res = engine.execute(
        "SELECT label FROM resv -- resv lives here\n"
        "WHERE label = 'resv' /* also resv */", ctx)
    assert [tuple(r) for r in res.rows] == [("resv",)]
    # fully-qualified and schema-qualified forms still resolve
    res = engine.execute("SELECT count(*) AS n FROM TEST_DB.PUBLIC.RESV", ctx)
    assert _rows(res) == [(1,)]
    res = engine.execute("SELECT count(*) AS n FROM PUBLIC.RESV", ctx)
    assert _rows(res) == [(1,)]


def test_resolve_names_flat_with_large_catalog(engine):
    """Per-statement resolve cost must not scale with catalog size:
    with ~60 extra tables registered, a simple statement still resolves
    through single-pass lookup (smoke: correct result, no rewrite of
    unrelated names)."""
    ctx = SessionContext()
    for i in range(60):
        engine.execute(f"CREATE TABLE IF NOT EXISTS filler_{i} (id INTEGER)", ctx)
    engine.execute("CREATE TABLE big_cat (id INTEGER)", ctx)
    engine.execute("INSERT INTO big_cat VALUES (7)", ctx)
    res = engine.execute("SELECT id FROM big_cat WHERE 'filler_1' != 'x'", ctx)
    assert _rows(res) == [(7,)]


def test_query_history_survives_restart(spark, tmp_path):
    """SHOW QUERY HISTORY reflects statements from a PREVIOUS engine
    over the same warehouse dir (reference persists history to
    _metadata_query_history, pkg/metadata/repository.go:1213-1378)."""
    from snowflake_emulator_spark.engine import Engine

    base = str(tmp_path / "wh")
    e1 = Engine(spark, base_dir=base)
    ctx = SessionContext()
    e1.execute("CREATE TABLE hist_t (id INTEGER)", ctx)
    e1.execute("INSERT INTO hist_t VALUES (1)", ctx)
    res = e1.execute("SHOW QUERY HISTORY", ctx)
    assert any("hist_t" in r[0] for r in res.rows)

    e2 = Engine(spark, base_dir=base)  # fresh engine, same warehouse
    res = e2.execute("SHOW QUERY HISTORY", SessionContext())
    assert any("CREATE TABLE hist_t" in r[0] and r[1] == "SUCCESS" for r in res.rows)


def test_time_travel_version_and_timestamp(engine):
    """AT(VERSION|OFFSET|TIMESTAMP) reads an older immutable version dir
    (beyond-reference: Snowflake time travel over the parquet version
    history)."""
    import time as _time

    ctx = SessionContext()
    engine.execute("CREATE TABLE tt (id INTEGER, v VARCHAR)", ctx)      # v1 empty
    engine.execute("INSERT INTO tt VALUES (1, 'first')", ctx)           # v2
    _time.sleep(0.05)
    between = _time.time()
    _time.sleep(0.05)
    engine.execute("UPDATE tt SET v = 'second' WHERE id = 1", ctx)      # v3

    res = engine.execute("SELECT v FROM tt", ctx)
    assert _rows(res) == [("second",)]
    res = engine.execute("SELECT v FROM tt AT(VERSION => 2)", ctx)
    assert _rows(res) == [("first",)]
    res = engine.execute("SELECT count(*) AS n FROM tt AT(VERSION => 1)", ctx)
    assert _rows(res) == [(0,)]
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(between, tz=timezone.utc).isoformat()
    res = engine.execute(f"SELECT v FROM tt AT(TIMESTAMP => '{iso}')", ctx)
    assert _rows(res) == [("first",)]
    # OFFSET far in the past: before the table existed -> error
    with pytest.raises(Exception):
        engine.execute("SELECT v FROM tt AT(OFFSET => -999999)", ctx)
    # version outside retention -> error
    with pytest.raises(Exception):
        engine.execute("SELECT v FROM tt AT(VERSION => 99)", ctx)


def test_time_travel_before_and_statement(engine):
    """r11: BEFORE(...) is STRICT (excludes the target instant /
    statement's changes) and STATEMENT => 'qid' resolves the instant
    from query history — AT includes that statement's writes, BEFORE
    excludes them (Snowflake semantics)."""
    import time as _time

    ctx = SessionContext()
    engine.execute("CREATE TABLE ttb (id INTEGER, v VARCHAR)", ctx)     # v1
    engine.execute("INSERT INTO ttb VALUES (1, 'first')", ctx)          # v2
    _time.sleep(0.05)
    upd = engine.execute("UPDATE ttb SET v = 'second' WHERE id = 1", ctx)  # v3
    qid = upd.query_id
    # AT(STATEMENT) includes the update's effect; BEFORE excludes it
    res = engine.execute(
        f"SELECT v FROM ttb AT(STATEMENT => '{qid}')", ctx)
    assert _rows(res) == [("second",)]
    res = engine.execute(
        f"SELECT v FROM ttb BEFORE(STATEMENT => '{qid}')", ctx)
    assert _rows(res) == [("first",)]
    # BEFORE(VERSION => 3) = newest version strictly below 3
    res = engine.execute("SELECT v FROM ttb BEFORE(VERSION => 3)", ctx)
    assert _rows(res) == [("first",)]
    # BEFORE a timestamp taken AFTER the update still strictly precedes
    # any LATER write; before the first insert -> empty table version
    from datetime import datetime, timezone

    engine.execute("SELECT 1", ctx)
    hist = [st for st in engine.statements.recent(100) if "INSERT INTO ttb" in st.sql]
    ins_start = hist[0].start
    iso = datetime.fromtimestamp(ins_start, tz=timezone.utc).isoformat()
    res = engine.execute(
        f"SELECT count(*) AS n FROM ttb BEFORE(TIMESTAMP => '{iso}')", ctx)
    assert _rows(res) == [(0,)]
    # unknown statement id -> clean error
    with pytest.raises(Exception, match="not found"):
        engine.execute(
            "SELECT v FROM ttb BEFORE(STATEMENT => '01-no-such')", ctx)


def test_clone_table_zero_copy_and_divergence(engine):
    """CREATE TABLE ... CLONE is a zero-copy hard-link of the source
    version dir; afterwards the tables diverge independently."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE src_c (id INTEGER, v VARCHAR)", ctx)
    engine.execute("INSERT INTO src_c VALUES (1, 'a'), (2, 'b')", ctx)
    engine.execute("CREATE TABLE dst_c CLONE src_c", ctx)
    res = engine.execute("SELECT count(*) AS n FROM dst_c", ctx)
    assert _rows(res) == [(2,)]
    # divergence both ways
    engine.execute("INSERT INTO dst_c VALUES (3, 'c')", ctx)
    engine.execute("DELETE FROM src_c WHERE id = 1", ctx)
    assert _rows(engine.execute("SELECT count(*) AS n FROM dst_c", ctx)) == [(3,)]
    assert _rows(engine.execute("SELECT count(*) AS n FROM src_c", ctx)) == [(1,)]
    # clone of a historical version via AT
    engine.execute("CREATE TABLE dst_v1 CLONE src_c AT(VERSION => 2)", ctx)
    assert _rows(engine.execute("SELECT count(*) AS n FROM dst_v1", ctx)) == [(2,)]
    # name collision without OR REPLACE errors; with it, replaces
    import pytest as _pytest
    with _pytest.raises(Exception):
        engine.execute("CREATE TABLE dst_c CLONE src_c", ctx)
    engine.execute("CREATE OR REPLACE TABLE dst_c CLONE src_c", ctx)
    assert _rows(engine.execute("SELECT count(*) AS n FROM dst_c", ctx)) == [(1,)]


def test_undrop_table_restores_data(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE und (id INTEGER, v VARCHAR)", ctx)
    engine.execute("INSERT INTO und VALUES (1, 'keep'), (2, 'keep2')", ctx)
    engine.execute("DROP TABLE und", ctx)
    import pytest as _pytest
    with _pytest.raises(Exception):
        engine.execute("SELECT * FROM und", ctx)
    engine.execute("UNDROP TABLE und", ctx)
    res = engine.execute("SELECT v FROM und ORDER BY id", ctx)
    assert _rows(res) == [("keep",), ("keep2",)]
    # further DML works after restore
    engine.execute("INSERT INTO und VALUES (3, 'new')", ctx)
    assert _rows(engine.execute("SELECT count(*) AS n FROM und", ctx)) == [(3,)]
    # undrop with no dropped table of that name errors
    with _pytest.raises(Exception):
        engine.execute("UNDROP TABLE never_existed", ctx)
    # drop + recreate same name, then UNDROP must fail (name taken)
    engine.execute("DROP TABLE und", ctx)
    engine.execute("CREATE TABLE und (id INTEGER)", ctx)
    with _pytest.raises(Exception):
        engine.execute("UNDROP TABLE und", ctx)


def test_create_table_like_and_insert_overwrite(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE src_t (id INTEGER NOT NULL, name VARCHAR) CLUSTER BY (id)", ctx)
    engine.execute("INSERT INTO src_t VALUES (1,'a'),(2,'b')", ctx)
    engine.execute("CREATE TABLE like_t LIKE src_t", ctx)
    res = engine.execute("SELECT count(*) AS n FROM like_t", ctx)
    assert _rows(res) == [(0,)]  # schema only, no data
    desc_src = engine.execute("DESCRIBE TABLE src_t", ctx).rows
    desc_like = engine.execute("DESCRIBE TABLE like_t", ctx).rows
    assert desc_src == desc_like
    engine.execute("INSERT INTO like_t VALUES (9,'z')", ctx)
    r = engine.execute("INSERT OVERWRITE INTO like_t SELECT id, name FROM src_t", ctx)
    assert r.rows_inserted == 2
    res = engine.execute("SELECT id FROM like_t ORDER BY id", ctx)
    assert _rows(res) == [(1,), (2,)]  # the pre-existing row 9 is gone


def test_alter_table_drop_and_rename_column(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE col_t (id INTEGER, a VARCHAR, b INTEGER)", ctx)
    engine.execute("INSERT INTO col_t VALUES (1,'x',10)", ctx)
    engine.execute("ALTER TABLE col_t RENAME COLUMN b TO score", ctx)
    res = engine.execute("SELECT id, score FROM col_t", ctx)
    assert _rows(res) == [(1, 10)]
    engine.execute("ALTER TABLE col_t DROP COLUMN a", ctx)
    assert [r[0] for r in engine.execute("DESCRIBE TABLE col_t", ctx).rows] == ["ID", "SCORE"]
    res = engine.execute("SELECT * FROM col_t", ctx)
    assert _rows(res) == [(1, 10)]


def test_comment_on_table(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE cmt_t (id INTEGER)", ctx)
    engine.execute("COMMENT ON TABLE cmt_t IS 'training corpus'", ctx)
    rows = engine.execute("SHOW TABLES LIKE 'cmt_t'", ctx).rows
    assert rows[0][4] == "training corpus"


def test_dml_single_pass_no_count_scan(engine, monkeypatch):
    """Regression for the r1 count-before-write double scan: INSERT
    ...SELECT / UPDATE / DELETE / MERGE report row counts from
    Observation metrics on the single write pass — DataFrame.count()
    (a second scan of the source) must never run inside DML."""
    import pyspark.sql

    ctx = SessionContext()
    engine.execute("CREATE TABLE sp_src (id INTEGER, v INTEGER)", ctx)
    engine.execute("CREATE TABLE sp_dst (id INTEGER, v INTEGER)", ctx)
    engine.execute("INSERT INTO sp_src VALUES (1,10),(2,20),(3,30)", ctx)

    calls: list[str] = []
    orig = pyspark.sql.DataFrame.count

    def counting(self):
        calls.append("count")
        return orig(self)

    monkeypatch.setattr(pyspark.sql.DataFrame, "count", counting)
    r = engine.execute("INSERT INTO sp_dst SELECT id, v FROM sp_src", ctx)
    assert r.rows_inserted == 3
    r = engine.execute("UPDATE sp_dst SET v = v + 1 WHERE id >= 2", ctx)
    assert r.rows_updated == 2
    r = engine.execute("DELETE FROM sp_dst WHERE id = 1", ctx)
    assert r.rows_deleted == 1
    r = engine.execute(
        "MERGE INTO sp_dst USING sp_src ON sp_dst.id = sp_src.id "
        "WHEN MATCHED THEN UPDATE SET v = sp_src.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (sp_src.id, sp_src.v)", ctx)
    assert calls == [], f"DML issued {len(calls)} extra count() scans"


def test_retention_versions_widens_time_travel(engine):
    """ALTER TABLE ... SET DATA_RETENTION_VERSIONS controls how many
    immutable versions GC keeps — i.e. the AT() time-travel window."""
    import os

    ctx = SessionContext()
    engine.execute("CREATE TABLE rt (v INTEGER)", ctx)
    engine.execute("ALTER TABLE rt SET DATA_RETENTION_VERSIONS = 6", ctx)
    for i in range(6):
        engine.execute(f"INSERT INTO rt VALUES ({i})", ctx)
    tm = engine.catalog.get_table("rt", ctx.database, ctx.schema)
    versions = sorted(int(d[1:]) for d in os.listdir(tm.location) if d.startswith("v"))
    assert len(versions) == 6  # default keep=3 would have pruned these
    res = engine.execute("SELECT count(*) AS n FROM rt AT(VERSION => 2)", ctx)
    assert [tuple(r) for r in res.rows] == [(1,)]
    # narrowing takes effect on the next write
    engine.execute("ALTER TABLE rt SET DATA_RETENTION_VERSIONS = 2", ctx)
    engine.execute("INSERT INTO rt VALUES (99)", ctx)
    versions = sorted(int(d[1:]) for d in os.listdir(tm.location) if d.startswith("v"))
    assert len(versions) == 2


def test_show_tables_history_lists_dropped(engine):
    """SHOW TABLES HISTORY surfaces UNDROP-able tables with a
    dropped_on marker; UNDROP removes them from the graveyard listing."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE hist_t (id INTEGER)", ctx)
    engine.execute("DROP TABLE hist_t", ctx)
    res = engine.execute("SHOW TABLES HISTORY", ctx)
    assert "dropped_on" in res.columns
    hist = {r[0]: r[-1] for r in res.rows}
    assert hist.get("HIST_T") is not None  # dropped, timestamped
    res = engine.execute("SHOW TABLES", ctx)
    assert all(r[0] != "HIST_T" for r in res.rows)  # plain SHOW: absent
    engine.execute("UNDROP TABLE hist_t", ctx)
    res = engine.execute("SHOW TABLES HISTORY", ctx)
    live = {r[0]: r[-1] for r in res.rows}
    assert live.get("HIST_T") is None  # live again, no drop marker


def test_connect_by_hierarchy(engine):
    """START WITH ... CONNECT BY PRIOR runs as a recursive CTE with
    LEVEL; unreachable rows are excluded."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE org (id INTEGER, parent_id INTEGER, name VARCHAR)", ctx)
    engine.execute(
        "INSERT INTO org VALUES (1, NULL, 'root'), (2, 1, 'child-a'), "
        "(3, 1, 'child-b'), (4, 2, 'grand-a'), (5, 99, 'orphan')", ctx)
    res = engine.execute(
        "SELECT id, name, LEVEL FROM org START WITH parent_id IS NULL "
        "CONNECT BY PRIOR id = parent_id ORDER BY LEVEL, id", ctx)
    assert [tuple(r) for r in res.rows] == [
        (1, "root", 1), (2, "child-a", 2), (3, "child-b", 2), (4, "grand-a", 3)]


def test_merge_nondeterministic_strict_mode(engine):
    """ERROR_ON_NONDETERMINISTIC_MERGE defaults to TRUE (Snowflake's
    out-of-the-box strictness): a target row matched by multiple
    actionable source rows raises and leaves the table untouched;
    SET ... = FALSE opts into pick-first."""
    import pytest as _pytest

    ctx = SessionContext()
    engine.execute("CREATE TABLE mt (id INTEGER, v INTEGER)", ctx)
    engine.execute("CREATE TABLE ms (id INTEGER, v INTEGER)", ctx)
    engine.execute("INSERT INTO mt VALUES (1, 0)", ctx)
    engine.execute("INSERT INTO ms VALUES (1, 10), (1, 20)", ctx)
    merge = ("MERGE INTO mt USING ms ON mt.id = ms.id "
             "WHEN MATCHED THEN UPDATE SET v = ms.v")
    # strict by default — no SET needed
    with _pytest.raises(Exception, match="[Dd]uplicate row"):
        engine.execute(merge, ctx)
    # the failed statement reverted its write: target unchanged
    res = engine.execute("SELECT v FROM mt", ctx)
    assert [tuple(x) for x in res.rows] == [(0,)]
    engine.execute("ALTER SESSION SET ERROR_ON_NONDETERMINISTIC_MERGE = FALSE", ctx)
    r = engine.execute(merge, ctx)
    assert r.rows_updated == 1
    res = engine.execute("SELECT v FROM mt", ctx)
    # pick-first applies exactly ONE of the matches (which one is
    # engine-defined, as in Snowflake's non-strict mode)
    assert [tuple(x) for x in res.rows] in ([(10,)], [(20,)])


def test_grants_metadata_rbac(engine):
    """GRANT/REVOKE/SHOW GRANTS: metadata-only RBAC (beyond reference)
    — grants recorded and listable by object or grantee, not enforced
    (single-user emulator, like the reference's single-account model)."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE rbac_t (id INTEGER)", ctx)
    engine.execute("GRANT SELECT, INSERT ON TABLE rbac_t TO ROLE analyst", ctx)
    engine.execute("GRANT USAGE ON DATABASE testdb TO ROLE analyst", ctx)
    r = engine.execute("SHOW GRANTS ON TABLE rbac_t", ctx)
    got = {(x[0], x[4]) for x in r.rows}
    assert got == {("SELECT", "ANALYST"), ("INSERT", "ANALYST")}
    r = engine.execute("SHOW GRANTS TO ROLE analyst", ctx)
    assert len(r.rows) == 3
    engine.execute("REVOKE INSERT ON TABLE rbac_t FROM ROLE analyst", ctx)
    r = engine.execute("SHOW GRANTS ON TABLE rbac_t", ctx)
    assert {(x[0], x[4]) for x in r.rows} == {("SELECT", "ANALYST")}
    # idempotent re-grant does not duplicate
    engine.execute("GRANT SELECT ON TABLE rbac_t TO ROLE analyst", ctx)
    assert len(engine.execute("SHOW GRANTS ON TABLE rbac_t", ctx).rows) == 1


def test_session_variables(engine):
    """SET/UNSET session variables with $var substitution (beyond
    reference): the expression evaluates at SET time, references inline
    as typed literals, SHOW VARIABLES lists, UNSET removes."""
    ctx = SessionContext()
    engine.execute("SET min_score = 20 + 5", ctx)
    engine.execute("SET who = 'al''ice'", ctx)
    engine.execute("CREATE TABLE var_t (id INTEGER, score INTEGER)", ctx)
    engine.execute("INSERT INTO var_t VALUES (1, 10), (2, 30), (3, 50)", ctx)
    res = engine.execute("SELECT id FROM var_t WHERE score > $min_score ORDER BY id", ctx)
    assert _rows(res) == [(2,), (3,)]
    res = engine.execute("SELECT $who AS w, $min_score + 1 AS m", ctx)
    assert _rows(res) == [("al'ice", 26)]
    rows = engine.execute("SHOW VARIABLES", ctx).rows
    assert {r[0] for r in rows} == {"MIN_SCORE", "WHO"}
    engine.execute("UNSET who", ctx)
    assert {r[0] for r in engine.execute("SHOW VARIABLES", ctx).rows} == {"MIN_SCORE"}
    # per-session isolation: a fresh context sees no variables
    other = SessionContext()
    assert engine.execute("SHOW VARIABLES", other).rows == []


def test_get_ddl_and_variant_predicates(engine):
    """GET_DDL reconstructs CREATE statements from the catalog; IS_*
    VARIANT predicates classify the JSON-text storage; SAMPLE … SEED
    maps to TABLESAMPLE … REPEATABLE."""
    ctx = SessionContext()
    engine.execute(
        "CREATE TABLE ddl_t (id INTEGER NOT NULL PRIMARY KEY, "
        "name VARCHAR DEFAULT 'x') CLUSTER BY (id)", ctx)
    engine.execute("CREATE VIEW ddl_v AS SELECT id FROM ddl_t", ctx)
    engine.execute("CREATE FUNCTION ddl_f(x NUMBER) RETURNS NUMBER AS 'x + 1'", ctx)
    t = engine.execute("SELECT GET_DDL('TABLE', 'ddl_t') AS d", ctx).rows[0][0]
    assert "CREATE OR REPLACE TABLE DDL_T" in t
    assert "ID INTEGER NOT NULL PRIMARY KEY" in t
    assert "NAME VARCHAR DEFAULT 'x'" in t and "CLUSTER BY (id)" in t
    v = engine.execute("SELECT GET_DDL('VIEW', 'ddl_v') AS d", ctx).rows[0][0]
    assert v == "CREATE OR REPLACE VIEW DDL_V AS SELECT id FROM ddl_t;"
    f = engine.execute("SELECT GET_DDL('FUNCTION', 'ddl_f') AS d", ctx).rows[0][0]
    assert f == "CREATE OR REPLACE FUNCTION DDL_F(X NUMBER) RETURNS NUMBER AS $$x + 1$$;"
    # a UDF call inside a produced string literal must NOT inline
    assert engine.execute("SELECT ddl_f(2) AS v", ctx).rows[0][0] == 3
    res = engine.execute(
        "SELECT IS_INTEGER('42') AS a, IS_DECIMAL('4.2') AS b, IS_OBJECT('{}') AS c, "
        "IS_ARRAY('[1]') AS d, IS_BOOLEAN('true') AS e, IS_VARCHAR('hi') AS f, "
        "IS_INTEGER('hi') AS g, IS_VARCHAR(NULL) AS h", ctx)
    assert _rows(res) == [(True, True, True, True, True, True, False, None)]
    # SEED parses (row count is sampling-random; syntax must not error)
    engine.execute("SELECT * FROM ddl_t SAMPLE (50) SEED (42)", ctx)


def test_multi_statement_script(engine):
    """';'-separated scripts run sequentially in one session (quote and
    $$-body aware); the last statement's result is returned."""
    ctx = SessionContext()
    res = engine.execute(
        "CREATE TABLE ms_t (id INTEGER, s VARCHAR); "
        "INSERT INTO ms_t VALUES (1, 'a;b'), (2, 'c'); "
        "CREATE FUNCTION ms_f(x NUMBER) RETURNS NUMBER AS $$ x + 1; $$; "
        "SELECT id, s FROM ms_t WHERE id = 1",
        ctx)
    assert _rows(res) == [(1, "a;b")]
    # the UDF body kept its semicolon... Snowflake would reject ';' in a
    # scalar expression — just assert the function registered
    assert "MS_F" in [r[0] for r in engine.execute("SHOW USER FUNCTIONS", ctx).rows]


def test_script_split_comment_aware(engine):
    """Statement splitting skips -- and /* */ comment spans: a ';' or
    an apostrophe (don't) inside a comment must neither split the
    script nor open a string."""
    ctx = SessionContext()
    res = engine.execute(
        "CREATE TABLE cmt_t (id INTEGER); -- don't split; here\n"
        "INSERT INTO cmt_t VALUES (1), (2); /* nor here; don't */ "
        "SELECT count(*) AS n FROM cmt_t",
        ctx)
    assert _rows(res) == [(2,)]
    # commented-out SQL inside a single statement stays inert
    res = engine.execute(
        "SELECT id FROM cmt_t /* WHERE id = 99; */ WHERE id = 1", ctx)
    assert _rows(res) == [(1,)]


def test_variable_substitution_after_comment_apostrophe(engine):
    """An apostrophe inside a comment (-- don't) must not open a
    string and suppress later $var substitution (r4 review fix:
    _inside_string is now comment-aware)."""
    ctx = SessionContext()
    engine.execute("SET v = 5", ctx)
    res = engine.execute("SELECT 1 AS a, -- don't\n $v AS b", ctx)
    assert _rows(res) == [(1, 5)]


def test_empty_or_comment_only_statement_raises(engine):
    ctx = SessionContext()
    for sql in ("", "   ", "-- only a comment", "/* nothing */"):
        with pytest.raises(Exception, match="Empty SQL statement"):
            engine.execute(sql, ctx)


def test_session_variable_not_substituted_in_string(engine):
    """$var substitution applies only in expression positions — a $name
    inside a quoted string literal stays verbatim (Snowflake parity)."""
    ctx = SessionContext()
    engine.execute("SET total = 42", ctx)
    res = engine.execute("SELECT 'cost: $total' AS s, $total AS v", ctx)
    assert _rows(res) == [("cost: $total", 42)]


def test_dynamic_pivot_any(engine):
    """PIVOT(... FOR col IN (ANY)): the IN list resolves at plan time
    from the source's distinct values (Snowflake dynamic pivot)."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE dp (region VARCHAR, q VARCHAR, amt INTEGER)", ctx)
    engine.execute(
        "INSERT INTO dp VALUES ('east','Q1',10),('east','Q2',20),"
        "('west','Q1',5),('west','Q2',7)", ctx)
    r = engine.execute(
        "SELECT * FROM dp PIVOT(sum(amt) FOR q IN (ANY)) ORDER BY region", ctx)
    assert r.columns == ["REGION", "Q1", "Q2"]
    assert _rows(r) == [("east", 10, 20), ("west", 5, 7)]


def test_spark_errors_map_to_snowflake_codes(engine):
    """Spark error classes surface with real Snowflake codes: missing
    object 002043/02000, invalid identifier 000904, division by zero
    100051/22012 (the reference collapses all of these to a generic
    execution error)."""
    from snowflake_emulator_spark import errors as err

    ctx = SessionContext()
    engine.execute("CREATE TABLE ec_t (id INTEGER)", ctx)
    engine.execute("INSERT INTO ec_t VALUES (1)", ctx)
    with pytest.raises(err.SnowflakeError) as e:
        engine.execute("SELECT * FROM no_such_table_xyz", ctx)
    assert e.value.code == "002043" and e.value.sqlstate == "02000"
    with pytest.raises(err.SnowflakeError) as e:
        engine.execute("SELECT not_a_column FROM ec_t", ctx)
    assert e.value.code == "000904"
    with pytest.raises(err.SnowflakeError) as e:
        engine.execute("SELECT id / 0 FROM ec_t", ctx)
    assert e.value.code == "100051" and e.value.sqlstate == "22012"


def test_version_gc_bounds_disk_under_update_merge_churn(engine):
    """r4 verdict item 8: a long UPDATE/MERGE churn loop under
    retention=1 must actually bound disk — the version-dir count stays
    <= retention + the in-flight write at every step, and the table
    still reads correctly afterwards. The cluster-scale retention story
    in docs/DESIGN.md depends on this invariant."""
    import os
    import re as _re

    ctx = SessionContext()
    engine.execute("CREATE TABLE churn (id INTEGER, v INTEGER)", ctx)
    engine.execute("INSERT INTO churn VALUES (1, 0), (2, 0)", ctx)
    engine.execute("ALTER TABLE churn SET DATA_RETENTION_VERSIONS = 1", ctx)
    tm = engine.catalog.get_table("churn", ctx.database, ctx.schema)
    for i in range(1, 13):
        if i % 3 == 0:
            engine.execute(
                f"MERGE INTO churn t USING (SELECT 1 AS id, {i} AS v) s "
                "ON t.id = s.id "
                "WHEN MATCHED THEN UPDATE SET v = s.v "
                "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)",
                ctx)
        else:
            engine.execute(f"UPDATE churn SET v = {i} WHERE id = 1", ctx)
        vdirs = [d for d in os.listdir(tm.location)
                 if _re.fullmatch(r"v\d+", d)]
        assert len(vdirs) <= 2, (
            f"iteration {i}: {len(vdirs)} version dirs retained "
            f"({sorted(vdirs)}) — GC is not bounding disk under churn")
    res = engine.execute("SELECT v FROM churn WHERE id = 1", ctx)
    assert _rows(res) == [(12,)]
    res = engine.execute("SELECT v FROM churn WHERE id = 2", ctx)
    assert _rows(res) == [(0,)]


def test_transient_and_temp_ctas_kinds(engine):
    """TRANSIENT is recorded (SHOW TABLES kind) and tightens retention
    to 1 version; CREATE TEMP TABLE AS SELECT carries the kind too."""
    ctx = SessionContext()
    engine.execute("CREATE TRANSIENT TABLE tr_k (id INTEGER)", ctx)
    tm = engine.catalog.get_table("tr_k", ctx.database, ctx.schema)
    assert tm.kind == "TRANSIENT" and tm.retention_versions == 1
    engine.execute("CREATE TEMPORARY TABLE AS_T AS SELECT 1 AS v", ctx)
    tm2 = engine.catalog.get_table("as_t", ctx.database, ctx.schema)
    assert tm2.kind == "TEMPORARY"
    rows = {r[0]: r[3] for r in engine.execute("SHOW TABLES", ctx).rows}
    assert rows["TR_K"] == "TRANSIENT" and rows["AS_T"] == "TEMPORARY"
    # engine-level owner is the ctx itself; cleanup drops its temps only
    engine.cleanup_session(ctx)
    import pytest as _pytest
    with _pytest.raises(Exception):
        engine.execute("SELECT * FROM as_t", ctx)
    assert engine.execute("SELECT count(*) AS n FROM tr_k", ctx).rows == [[0]]


def test_external_table_over_stage(engine, tmp_path):
    """CREATE EXTERNAL TABLE over a stage directory: zero-copy reads,
    snapshot-at-create file list, ALTER ... REFRESH picks up new files,
    writes rejected (EXTERNAL kind)."""
    ctx = SessionContext()
    engine.execute("CREATE STAGE ext_s", ctx)
    stage = engine.catalog.get("STAGE", "ext_s")
    df = engine.spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    import glob
    import shutil

    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "p1"))
    src = glob.glob(str(tmp_path / "p1" / "*.parquet"))[0]
    engine.stages.put_file(stage, src, "ext/one.parquet")
    engine.execute(
        "CREATE EXTERNAL TABLE ext_t LOCATION=@ext_s/ext "
        "FILE_FORMAT=(TYPE=PARQUET)", ctx)
    r = engine.execute("SELECT count(*) AS n FROM ext_t", ctx)
    assert r.rows == [[2]]
    rows = {x[0]: x[3] for x in engine.execute("SHOW TABLES", ctx).rows}
    assert rows["EXT_T"] == "EXTERNAL"
    # new file invisible until REFRESH (snapshot semantics)
    df2 = engine.spark.createDataFrame([(3, "c")], "id long, v string")
    df2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "p2"))
    src2 = glob.glob(str(tmp_path / "p2" / "*.parquet"))[0]
    engine.stages.put_file(stage, src2, "ext/two.parquet")
    engine.execute("ALTER EXTERNAL TABLE ext_t REFRESH", ctx)
    r = engine.execute("SELECT count(*) AS n FROM ext_t", ctx)
    assert r.rows == [[3]]
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.execute("INSERT INTO ext_t VALUES (9, 'z')", ctx)


def test_time_travel_error_shape_out_of_retention(engine):
    """AT() beyond retention raises Snowflake's 'Time travel data is
    not available' message shape (r5 verdict item 8)."""
    import pytest as _pytest

    ctx = SessionContext()
    engine.execute("CREATE TABLE tt_err (id INTEGER)", ctx)
    engine.execute("INSERT INTO tt_err VALUES (1)", ctx)
    with _pytest.raises(Exception, match="Time travel data is not available"):
        engine.execute("SELECT * FROM tt_err AT(VERSION => 999)", ctx)
    with _pytest.raises(Exception, match="Time travel data is not available"):
        engine.execute(
            "SELECT * FROM tt_err AT(TIMESTAMP => '1990-01-01 00:00:00')", ctx)


def test_time_travel_read_pin_blocks_gc(engine):
    """A pinned AT() version survives _gc_versions even when retention
    would collect it; unpinning releases it to the next GC."""
    import os

    ctx = SessionContext()
    engine.execute("CREATE TABLE tt_pin (id INTEGER)", ctx)
    engine.execute("INSERT INTO tt_pin VALUES (1)", ctx)
    engine.execute("ALTER TABLE tt_pin SET DATA_RETENTION_VERSIONS = 1", ctx)
    tm = engine.catalog.get_table("tt_pin", ctx.database, ctx.schema)
    pinned_v = engine.catalog.pin_version_for_read(tm)
    try:
        for i in range(4):
            engine.execute(f"UPDATE tt_pin SET id = {i + 10}", ctx)
        assert os.path.isdir(tm.version_path(pinned_v)), (
            "GC deleted a version pinned by an in-flight AT() read")
    finally:
        engine.catalog.unpin_version_for_read(tm, pinned_v)
    engine.execute("UPDATE tt_pin SET id = 99", ctx)
    assert not os.path.isdir(tm.version_path(pinned_v)), (
        "unpinned version should be GC'd on the next write")


def test_time_travel_reads_concurrent_with_gc_churn(engine):
    """r5 verdict item 8: AT-version readers racing an UPDATE/MERGE
    churn loop under retention=1 must never observe a half-deleted
    version — every read either succeeds with consistent rows or
    raises the Snowflake 'Time travel data is not available' error."""
    import threading

    ctx = SessionContext()
    engine.execute("CREATE TABLE tt_race (id INTEGER, v INTEGER)", ctx)
    engine.execute("INSERT INTO tt_race VALUES (1, 0), (2, 0)", ctx)
    engine.execute("ALTER TABLE tt_race SET DATA_RETENTION_VERSIONS = 1", ctx)
    tm = engine.catalog.get_table("tt_race", ctx.database, ctx.schema)

    stop = threading.Event()
    bad: list[str] = []

    def reader():
        rctx = SessionContext()
        while not stop.is_set():
            v = tm.version  # race on purpose: may be GC'd mid-read
            try:
                res = engine.execute(
                    f"SELECT count(*) AS n FROM tt_race AT(VERSION => {v})",
                    rctx)
                if res.rows[0][0] != 2:
                    bad.append(f"row-count {res.rows[0][0]} at v{v}")
            except Exception as e:
                if "Time travel data is not available" not in str(e):
                    bad.append(f"v{v}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        for i in range(10):
            engine.execute(f"UPDATE tt_race SET v = {i} WHERE id = 1", ctx)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
    assert not bad, bad


def test_stage_file_sql_statements(engine, tmp_path):
    """SQL surface for stage file ops (r8): PUT file:// upload, LIST,
    GET download, REMOVE — what gosnowflake sends as plain sqlText
    (the reference exposes PutFile as a Go API only, manager.go:89)."""
    from snowflake_emulator_spark.sessions import SessionContext

    ctx = SessionContext()
    engine.execute("CREATE STAGE sql_stage", ctx)
    src = tmp_path / "up.csv"
    src.write_text("1,a\n2,b\n")
    res = engine.execute(f"PUT file://{src} @sql_stage/sub", ctx)
    assert [r[0] for r in res.rows] == ["up.csv"]
    assert res.rows[0][6] == "UPLOADED"
    res = engine.execute("LIST @sql_stage", ctx)
    assert [r[0] for r in res.rows] == ["sql_stage/sub/up.csv"]
    assert res.rows[0][1] == str(len("1,a\n2,b\n"))
    dl = tmp_path / "down"
    res = engine.execute(f"GET @sql_stage/sub file://{dl}", ctx)
    assert res.rows[0][2] == "DOWNLOADED"
    assert (dl / "up.csv").read_text() == "1,a\n2,b\n"
    res = engine.execute("REMOVE @sql_stage/sub", ctx)
    assert "removed 1" in res.rows[0][0]
    res = engine.execute("LIST @sql_stage", ctx)
    assert res.rows == []


def test_bind_stage_non_insert_statement(engine, tmp_path):
    """bindStage with a non-INSERT statement executes once per staged
    CSV row with positional TEXT binds (engine.execute with bind_stage)."""
    from snowflake_emulator_spark.sessions import SessionContext

    ctx = SessionContext()
    engine.execute("CREATE TABLE bs_upd (id INTEGER, v VARCHAR)", ctx)
    engine.execute(
        "INSERT INTO bs_upd VALUES (1, 'old'), (2, 'old'), (3, 'keep')", ctx)
    engine.execute("CREATE STAGE bs_stage", ctx)
    src = tmp_path / "binds_0.csv"
    src.write_text("one,1\ntwo,2\n")
    engine.execute(f"PUT file://{src} @bs_stage/req1", ctx)
    engine.execute(
        "UPDATE bs_upd SET v = ? WHERE id = ?", ctx, bind_stage="bs_stage/req1")
    res = engine.execute("SELECT id, v FROM bs_upd ORDER BY id", ctx)
    assert [tuple(r) for r in res.rows] == [(1, "one"), (2, "two"),
                                            (3, "keep")]
