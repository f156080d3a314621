"""Snowflake Scripting subset (plans/scripting.py): EXECUTE IMMEDIATE
blocks, CREATE PROCEDURE / CALL / DROP / SHOW PROCEDURES."""

import pytest

from snowflake_emulator_spark import errors
from snowflake_emulator_spark.sessions import SessionContext


def _rows(res):
    return [tuple(r) for r in res.rows]


def test_execute_immediate_plain_sql(engine):
    ctx = SessionContext()
    res = engine.execute("EXECUTE IMMEDIATE 'SELECT 1 + 1 AS v'", ctx)
    assert _rows(res) == [(2,)]
    # $$-quoted variant; quotes inside survive
    res = engine.execute("EXECUTE IMMEDIATE $$ SELECT 'a''b' AS s $$", ctx)
    assert _rows(res) == [("a'b",)]


def test_execute_immediate_block_declare_if_return(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE scr_t (id INTEGER, amt DOUBLE)", ctx)
    engine.execute("INSERT INTO scr_t VALUES (1, 10.0), (2, 90.0)", ctx)
    res = engine.execute(
        "EXECUTE IMMEDIATE $$\n"
        "DECLARE\n"
        "  total DOUBLE DEFAULT 0;\n"
        "  grade VARCHAR;\n"
        "BEGIN\n"
        "  LET total := (SELECT SUM(amt) FROM scr_t);\n"
        "  IF (total > 50) THEN\n"
        "    LET grade := 'high';\n"
        "  ELSEIF (total > 10) THEN\n"
        "    LET grade := 'mid';\n"
        "  ELSE\n"
        "    LET grade := 'low';\n"
        "  END IF;\n"
        "  RETURN grade || ':' || total;\n"
        "END\n"
        "$$", ctx)
    assert res.columns == ["anonymous block"]
    assert res.rows[0][0] == "high:100.0"


def test_execute_immediate_block_statements_and_binds(engine):
    """SQL statements inside the block run for effect with :name
    binds; without RETURN the last statement's result comes back."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE scr_b (id INTEGER, tag VARCHAR)", ctx)
    res = engine.execute(
        "EXECUTE IMMEDIATE $$\n"
        "DECLARE n NUMBER DEFAULT 7;\n"
        "BEGIN\n"
        "  INSERT INTO scr_b VALUES (:n, 'x');\n"
        "  INSERT INTO scr_b VALUES (:n + 1, 'y');\n"
        "  SELECT id, tag FROM scr_b ORDER BY id;\n"
        "END\n"
        "$$", ctx)
    assert _rows(res) == [(7, "x"), (8, "y")]


def test_procedure_lifecycle(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE scr_p (id INTEGER, amt DOUBLE)", ctx)
    engine.execute("INSERT INTO scr_p VALUES (1, 5.0), (2, 15.0)", ctx)
    engine.execute(
        "CREATE PROCEDURE scr_total(min_amt DOUBLE) RETURNS DOUBLE "
        "LANGUAGE SQL AS $$\n"
        "BEGIN\n"
        "  RETURN (SELECT SUM(amt) FROM scr_p WHERE amt >= :min_amt);\n"
        "END\n"
        "$$", ctx)
    res = engine.execute("CALL scr_total(10.0)", ctx)
    assert res.columns == ["SCR_TOTAL"] and res.rows[0][0] == 15.0
    res = engine.execute("CALL scr_total(0.0)", ctx)
    assert res.rows[0][0] == 20.0
    # arity mismatch raises
    with pytest.raises(Exception, match="argument"):
        engine.execute("CALL scr_total()", ctx)
    # duplicate without OR REPLACE raises; OR REPLACE swaps
    with pytest.raises(Exception, match="already exists"):
        engine.execute(
            "CREATE PROCEDURE scr_total(min_amt DOUBLE) RETURNS DOUBLE "
            "AS $$ BEGIN RETURN 0; END $$", ctx)
    engine.execute(
        "CREATE OR REPLACE PROCEDURE scr_total(min_amt DOUBLE) "
        "RETURNS DOUBLE AS $$ BEGIN RETURN min_amt * 2; END $$", ctx)
    assert engine.execute("CALL scr_total(21.0)", ctx).rows[0][0] == 42.0
    names = [r[0] for r in engine.execute("SHOW PROCEDURES", ctx).rows]
    assert "SCR_TOTAL" in names
    engine.execute("DROP PROCEDURE scr_total", ctx)
    assert "SCR_TOTAL" not in [
        r[0] for r in engine.execute("SHOW PROCEDURES", ctx).rows]
    with pytest.raises(Exception):
        engine.execute("CALL scr_total(1.0)", ctx)
    engine.execute("DROP PROCEDURE IF EXISTS scr_total", ctx)  # no raise


def test_procedure_dml_side_effects(engine):
    """A procedure whose body is plain statements (no explicit block)
    wraps into BEGIN..END; bare arg names resolve in scripting
    expressions, :binds in SQL."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE scr_log (msg VARCHAR)", ctx)
    engine.execute(
        "CREATE PROCEDURE scr_log_it(m VARCHAR) RETURNS VARCHAR AS $$\n"
        "BEGIN\n"
        "  INSERT INTO scr_log VALUES (:m);\n"
        "  RETURN 'logged ' || m;\n"
        "END\n"
        "$$", ctx)
    res = engine.execute("CALL scr_log_it('hello')", ctx)
    assert res.rows[0][0] == "logged hello"
    assert _rows(engine.execute("SELECT * FROM scr_log", ctx)) == [("hello",)]


def test_scripting_restrictions_raise(engine):
    """Nested IF now WORKS (v3 depth-aware grouping); labeled
    BREAK/CONTINUE WORKS (r8) — an unmatched label is a syntax error;
    OPEN ... USING works (r8 s2) — no NotImplementedError boundaries
    remain; a bind-count mismatch raises cleanly."""
    from snowflake_emulator_spark.errors import SnowflakeError

    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ BEGIN "
        "IF (1 = 1) THEN IF (2 = 2) THEN RETURN 1; END IF; END IF; "
        "RETURN 0; END $$", ctx)
    assert _rows(res) == [(1,)]
    with pytest.raises(SnowflakeError, match="LBL"):
        engine.execute(
            "EXECUTE IMMEDIATE $$ BEGIN "
            "WHILE (1 = 1) DO CONTINUE lbl; END WHILE; END $$", ctx)
    with pytest.raises(SnowflakeError, match="USING supplies"):
        engine.execute(
            "EXECUTE IMMEDIATE $$ DECLARE c1 CURSOR FOR SELECT 1; BEGIN "
            "OPEN c1 USING (1); RETURN 0; END $$", ctx)


def test_open_cursor_using_binds(engine):
    """OPEN c USING (e1, e2): expressions evaluate with script
    variables in scope and substitute the cursor query's positional
    `?` binds in order (r8 s2 — last scripting boundary lifted)."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE cur_using_t (id INTEGER, v VARCHAR)", ctx)
    engine.execute(
        "INSERT INTO cur_using_t VALUES (1,'a'),(2,'b'),(3,'c')", ctx)
    res = engine.execute("""EXECUTE IMMEDIATE $$
DECLARE
  lo INTEGER DEFAULT 1;
  total INTEGER DEFAULT 0;
  got VARCHAR DEFAULT '';
  c CURSOR FOR SELECT id, v FROM cur_using_t WHERE id > ? AND id <= ? ORDER BY id;
  rid INTEGER; rv VARCHAR;
BEGIN
  OPEN c USING (lo, lo + 2);
  FETCH c INTO rid, rv;
  LET total := rid;  LET got := rv;
  FETCH c INTO rid, rv;
  LET total := total + rid;  LET got := got || rv;
  CLOSE c;
  RETURN total || ':' || got;
END
$$""", ctx)
    assert _rows(res) == [("5:bc",)]


def test_execute_immediate_session_variable(engine):
    """EXECUTE IMMEDIATE $var runs the SQL held in a session variable."""
    ctx = SessionContext()
    engine.execute("SET q = 'SELECT 40 + 2 AS v'", ctx)
    res = engine.execute("EXECUTE IMMEDIATE $q", ctx)
    assert _rows(res) == [(42,)]


def test_get_ddl_procedure(engine):
    ctx = SessionContext()
    engine.execute(
        "CREATE PROCEDURE ddl_proc(x NUMBER) RETURNS NUMBER AS "
        "$$ BEGIN RETURN x + 1; END $$", ctx)
    d = engine.execute("SELECT GET_DDL('PROCEDURE', 'ddl_proc') AS d",
                       ctx).rows[0][0]
    assert d.startswith("CREATE OR REPLACE PROCEDURE DDL_PROC(X NUMBER)")
    assert "RETURN x + 1" in d and "LANGUAGE SQL" in d


def test_scripting_sql_scope_protects_columns(engine):
    """Inside an embedded (SELECT ...) only :name binds substitute — a
    bare identifier equal to a variable name stays a COLUMN reference
    (r4 review fix: bare-name substitution corrupted SQL whose columns
    collided with variable names)."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE scr_scope (total DOUBLE)", ctx)
    engine.execute("INSERT INTO scr_scope VALUES (1.0), (2.0), (100.0)", ctx)
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE total NUMBER DEFAULT 42; "
        "BEGIN RETURN (SELECT SUM(total) FROM scr_scope "
        "WHERE total < :total); END $$", ctx)
    assert res.rows[0][0] == 3.0   # column total < bind 42 -> 1 + 2


def test_call_reports_declared_return_type(engine):
    """CALL's result column carries the procedure's declared RETURNS
    type, not a Python-type guess (a Decimal from RETURNS NUMBER must
    not surface as TEXT)."""
    import decimal

    ctx = SessionContext()
    engine.execute("CREATE TABLE scr_d (amt DECIMAL(10,2))", ctx)
    engine.execute("INSERT INTO scr_d VALUES (1.50), (2.25)", ctx)
    engine.execute(
        "CREATE PROCEDURE scr_dsum() RETURNS NUMBER(10,2) AS "
        "$$ BEGIN RETURN (SELECT SUM(amt) FROM scr_d); END $$", ctx)
    res = engine.execute("CALL scr_dsum()", ctx)
    assert res.column_types[0].type == "NUMBER"
    assert (res.column_types[0].precision, res.column_types[0].scale) == (10, 2)
    assert res.rows[0][0] == decimal.Decimal("3.75")


def test_create_procedure_status_message(engine):
    ctx = SessionContext()
    res = engine.execute(
        "CREATE PROCEDURE scr_msg() RETURNS NUMBER AS "
        "$$ BEGIN RETURN 1; END $$", ctx)
    assert res.rows[0][0] == "Procedure SCR_MSG successfully created."


def test_leading_and_trailing_comments_around_statements(engine):
    """Leading comments must not defeat the CREATE/CALL classifiers;
    a trailing comment-only segment after ';' must not ride along."""
    ctx = SessionContext()
    res = engine.execute(
        "-- setup\nCREATE PROCEDURE lc_p() RETURNS NUMBER AS "
        "$$ BEGIN RETURN 7; END $$", ctx)
    assert "successfully created" in res.rows[0][0]
    assert engine.execute("/* call it */ CALL lc_p()", ctx).rows[0][0] == 7
    assert _rows(engine.execute("SELECT 1 AS v; -- done", ctx)) == [(1,)]


def test_scripting_string_literals_not_substituted(engine):
    """A variable name inside a string literal stays verbatim in both
    scripting expressions and SQL statements."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE v NUMBER DEFAULT 9; "
        "BEGIN RETURN 'v is ' || v; END $$", ctx)
    assert res.rows[0][0] == "v is 9"


# ---------------------------------------------------------------------------
# v2: bounded loops (FOR / WHILE / BREAK / CONTINUE)
# ---------------------------------------------------------------------------

def test_for_loop_accumulates(engine):
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE total NUMBER DEFAULT 0; BEGIN "
        "FOR i IN 1 TO 5 DO LET total := total + i; END FOR; "
        "RETURN total; END $$", ctx)
    assert _rows(res) == [(15,)]


def test_for_loop_reverse_and_counter_scope(engine):
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE s VARCHAR DEFAULT ''; "
        "i NUMBER DEFAULT 99; BEGIN "
        "FOR i IN REVERSE 1 TO 3 DO LET s := s || i; END FOR; "
        "RETURN s || '|' || i; END $$", ctx)
    # REVERSE iterates 3,2,1; the counter is loop-scoped so the outer
    # i (99) is restored after END FOR
    assert _rows(res) == [("321|99",)]


def test_for_loop_drives_dml(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE loop_t (n INTEGER)", ctx)
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ BEGIN "
        "FOR i IN 1 TO 3 DO INSERT INTO loop_t VALUES (:i * 10); END FOR; "
        "RETURN (SELECT SUM(n) FROM loop_t); END $$", ctx)
    assert _rows(res) == [(60,)]


def test_while_loop_with_break_continue(engine):
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE i NUMBER DEFAULT 0; "
        "acc NUMBER DEFAULT 0; BEGIN "
        "WHILE (i < 100) DO "
        "  LET i := i + 1; "
        "  IF (i = 3) THEN CONTINUE; END IF; "
        "  IF (i > 5) THEN BREAK; END IF; "
        "  LET acc := acc + i; "
        "END WHILE; "
        "RETURN acc; END $$", ctx)
    # 1+2+4+5 (3 skipped by CONTINUE, BREAK at 6)
    assert _rows(res) == [(12,)]


def test_while_loop_cap_raises(engine, monkeypatch):
    from snowflake_emulator_spark.plans import scripting

    # lower the cap so the runaway loop trips it in a handful of
    # engine statements instead of 10k
    monkeypatch.setattr(scripting, "_MAX_LOOP_ITER", 7)
    ctx = SessionContext()
    with pytest.raises(Exception, match="loop cap"):
        engine.execute(
            "EXECUTE IMMEDIATE $$ BEGIN "
            "WHILE (1 = 1) DO LET x := 1; END WHILE; RETURN 0; END $$", ctx)


def test_for_loop_cap_raises(engine, monkeypatch):
    from snowflake_emulator_spark.plans import scripting

    monkeypatch.setattr(scripting, "_MAX_LOOP_ITER", 7)
    ctx = SessionContext()
    with pytest.raises(Exception, match="loop cap"):
        engine.execute(
            "EXECUTE IMMEDIATE $$ BEGIN "
            "FOR i IN 1 TO 1000 DO LET x := 1; END FOR; RETURN 0; END $$", ctx)


def test_for_loop_return_inside(engine):
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ BEGIN "
        "FOR i IN 1 TO 10 DO "
        "  IF (i * i > 20) THEN RETURN i; END IF; "
        "END FOR; "
        "RETURN -1; END $$", ctx)
    assert _rows(res) == [(5,)]


def test_nested_loops_single_piece_header(engine):
    """Nested loops work even when both headers share one ';'-piece
    (the depth counter counts per-piece opens, not pieces)."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE x NUMBER DEFAULT 0; BEGIN "
        "FOR i IN 1 TO 2 DO FOR j IN 1 TO 2 DO LET x := x + 1; END FOR; END FOR; "
        "RETURN x; END $$", ctx)
    assert _rows(res) == [(4,)]


def test_cursor_for_loop_raises(engine):
    ctx = SessionContext()
    # the record maps every failure onto a Snowflake code
    with pytest.raises(errors.SnowflakeError, match="cursor"):
        engine.execute(
            "EXECUTE IMMEDIATE $$ BEGIN "
            "FOR rec IN cur DO LET x := 1; END FOR; RETURN 0; END $$", ctx)


def test_procedure_with_for_loop(engine):
    ctx = SessionContext()
    engine.execute(
        "CREATE PROCEDURE sum_to(n NUMBER) RETURNS NUMBER LANGUAGE SQL AS $$ "
        "DECLARE acc NUMBER DEFAULT 0; BEGIN "
        "FOR i IN 1 TO n DO LET acc := acc + i; END FOR; "
        "RETURN acc; END $$", ctx)
    res = engine.execute("CALL sum_to(10)", ctx)
    assert _rows(res) == [(55,)]


# ---------------------------------------------------------------------------
# v2b: EXCEPTION sections + cursor FOR loops
# ---------------------------------------------------------------------------

def test_exception_raise_and_handle(engine):
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE "
        "my_ex EXCEPTION (-20002, 'things went sideways'); BEGIN "
        "IF (1 = 1) THEN RAISE my_ex; END IF; "
        "RETURN 'not reached'; "
        "EXCEPTION WHEN my_ex THEN RETURN 'caught:' || SQLCODE || ':' || SQLERRM; "
        "END $$", ctx)
    assert _rows(res) == [("caught:-20002:things went sideways",)]


def test_exception_statement_error_and_other(engine):
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ BEGIN "
        "SELECT * FROM this_table_does_not_exist_xyz; "
        "RETURN 'not reached'; "
        "EXCEPTION WHEN STATEMENT_ERROR THEN RETURN 'stmt_err'; "
        "WHEN OTHER THEN RETURN 'other'; "
        "END $$", ctx)
    assert _rows(res) == [("stmt_err",)]


def test_exception_when_or_and_other_fallback(engine):
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE "
        "a EXCEPTION (-20001, 'a'); b EXCEPTION (-20002, 'b'); "
        "c EXCEPTION (-20003, 'c'); BEGIN "
        "RAISE c; "
        "EXCEPTION WHEN a OR b THEN RETURN 'ab'; "
        "WHEN OTHER THEN RETURN 'fallback:' || SQLCODE; "
        "END $$", ctx)
    assert _rows(res) == [("fallback:-20003",)]


def test_exception_uncaught_surfaces_with_code(engine):
    ctx = SessionContext()
    with pytest.raises(Exception, match="-20009"):
        engine.execute(
            "EXECUTE IMMEDIATE $$ DECLARE ex EXCEPTION (-20009, 'boom'); "
            "BEGIN RAISE ex; END $$", ctx)


def test_exception_bare_raise_rethrows_original(engine):
    ctx = SessionContext()
    with pytest.raises(Exception, match="-20011"):
        engine.execute(
            "EXECUTE IMMEDIATE $$ DECLARE ex EXCEPTION (-20011, 'orig'); "
            "BEGIN RAISE ex; "
            "EXCEPTION WHEN ex THEN RAISE; "
            "END $$", ctx)


def test_cursor_for_loop(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE cur_t (id INTEGER, amt INTEGER)", ctx)
    engine.execute("INSERT INTO cur_t VALUES (1, 10), (2, 20), (3, 30)", ctx)
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE "
        "total NUMBER DEFAULT 0; "
        "c CURSOR FOR SELECT id, amt FROM cur_t ORDER BY id; BEGIN "
        "FOR rec IN c DO LET total := total + rec.id * rec.amt; END FOR; "
        "RETURN total; END $$", ctx)
    # 1*10 + 2*20 + 3*30 = 140
    assert _rows(res) == [(140,)]


def test_resultset_for_loop_with_break(engine):
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE "
        "s VARCHAR DEFAULT ''; "
        "rs RESULTSET DEFAULT (SELECT w FROM "
        "(VALUES ('a'), ('b'), ('c')) AS t(w) ORDER BY 1); BEGIN "
        "FOR r IN rs DO "
        "  IF (r.w = 'c') THEN BREAK; END IF; "
        "  LET s := s || r.w; "
        "END FOR; "
        "RETURN s; END $$", ctx)
    assert _rows(res) == [("ab",)]


def test_cursor_row_cap(engine, monkeypatch):
    from snowflake_emulator_spark.plans import scripting

    monkeypatch.setattr(scripting, "_MAX_LOOP_ITER", 3)
    ctx = SessionContext()
    engine.execute("CREATE TABLE cur_big (id INTEGER)", ctx)
    engine.execute("INSERT INTO cur_big VALUES (1),(2),(3),(4),(5)", ctx)
    with pytest.raises(Exception, match="more than 3 rows"):
        engine.execute(
            "EXECUTE IMMEDIATE $$ DECLARE c CURSOR FOR SELECT id FROM cur_big; "
            "BEGIN FOR r IN c DO LET x := r.id; END FOR; RETURN 0; END $$", ctx)


def test_open_fetch_close_works(engine):
    """OPEN/FETCH/CLOSE are supported as of r8 (was
    NotImplementedError); the minimal open-return round trip runs."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE c CURSOR FOR SELECT 1 AS v; BEGIN "
        "OPEN c; FETCH c INTO x; CLOSE c; RETURN x; END $$", ctx)
    assert _rows(res) == [(1,)]


def test_cursor_ref_in_sql_statement(engine):
    """rec.col substitutes inside embedded SQL statements too (the
    common scripted-ETL shape: per-row DML driven by a cursor)."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE cur_src (id INTEGER)", ctx)
    engine.execute("INSERT INTO cur_src VALUES (1), (2)", ctx)
    engine.execute("CREATE TABLE cur_dst (id INTEGER, sq INTEGER)", ctx)
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE "
        "c CURSOR FOR SELECT id FROM cur_src ORDER BY id; BEGIN "
        "FOR rec IN c DO "
        "INSERT INTO cur_dst VALUES (rec.id, rec.id * rec.id); "
        "END FOR; "
        "RETURN (SELECT SUM(sq) FROM cur_dst); END $$", ctx)
    assert _rows(res) == [(5,)]


def test_for_loop_edge_bounds(engine):
    """Empty range (lo > hi) runs zero iterations; lo == hi runs one;
    negative bounds walk correctly; REVERSE with equal bounds runs
    once."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE n NUMBER DEFAULT 0; BEGIN "
        "FOR i IN 5 TO 1 DO LET n := n + 100; END FOR; "      # empty
        "FOR i IN 2 TO 2 DO LET n := n + 10; END FOR; "       # single
        "FOR i IN -2 TO 1 DO LET n := n + 1; END FOR; "       # 4 iters
        "FOR i IN REVERSE 7 TO 7 DO LET n := n + 1000; END FOR; "
        "RETURN n; END $$", ctx)
    assert _rows(res) == [(1014,)]


def test_loop_break_first_and_continue_all(engine):
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE n NUMBER DEFAULT 0; BEGIN "
        "FOR i IN 1 TO 9 DO BREAK; END FOR; "              # n unchanged
        "FOR i IN 1 TO 3 DO CONTINUE; LET n := n + 50; END FOR; "
        "RETURN n; END $$", ctx)
    # CONTINUE skips the accumulation every iteration
    assert _rows(res) == [(0,)]


def test_while_false_condition_never_runs(engine):
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE n NUMBER DEFAULT 7; BEGIN "
        "WHILE (1 = 2) DO LET n := 0; END WHILE; RETURN n; END $$", ctx)
    assert _rows(res) == [(7,)]


def test_nested_for_loops(engine):
    """2-level FOR nesting: depth-aware grouping sends each END FOR to
    its own loop (r5 verdict item 5)."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE n NUMBER DEFAULT 0; BEGIN "
        "FOR i IN 1 TO 3 DO "
        "  FOR j IN 1 TO 4 DO LET n := n + 1; END FOR; "
        "END FOR; RETURN n; END $$", ctx)
    assert _rows(res) == [(12,)]


def test_nested_loop_counters_compose(engine):
    """Inner body sees BOTH counters; the inner counter is re-scoped
    per outer iteration."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE n NUMBER DEFAULT 0; BEGIN "
        "FOR i IN 1 TO 3 DO "
        "  FOR j IN 1 TO 2 DO LET n := n + i * 10 + j; END FOR; "
        "END FOR; RETURN n; END $$", ctx)
    # sum over i=1..3, j=1..2 of (10i + j) = 20+40+60 + 3*(1+2) wait:
    # per i: (10i+1)+(10i+2) = 20i+3 -> 23+43+63 = 129
    assert _rows(res) == [(129,)]


def test_nested_break_binds_innermost(engine):
    """BREAK exits only the INNER loop: the outer completes all its
    iterations (Snowflake unlabeled-BREAK semantics)."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE n NUMBER DEFAULT 0; BEGIN "
        "FOR i IN 1 TO 3 DO "
        "  FOR j IN 1 TO 100 DO LET n := n + 1; BREAK; END FOR; "
        "  LET n := n + 10; "
        "END FOR; RETURN n; END $$", ctx)
    # inner contributes 1 per outer iter (break after first), +10 after
    assert _rows(res) == [(33,)]


def test_nested_continue_binds_innermost(engine):
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE n NUMBER DEFAULT 0; BEGIN "
        "FOR i IN 1 TO 2 DO "
        "  FOR j IN 1 TO 3 DO CONTINUE; LET n := n + 100; END FOR; "
        "  LET n := n + 1; "
        "END FOR; RETURN n; END $$", ctx)
    assert _rows(res) == [(2,)]


def test_nested_while_in_for_with_if(engine):
    """FOR wrapping WHILE wrapping IF: three construct kinds nested."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE n NUMBER DEFAULT 0; "
        "k NUMBER DEFAULT 0; BEGIN "
        "FOR i IN 1 TO 2 DO "
        "  LET k := 0; "
        "  WHILE (k < 3) DO "
        "    LET k := k + 1; "
        "    IF (k = 2) THEN CONTINUE; END IF; "
        "    LET n := n + 1; "
        "  END WHILE; "
        "END FOR; RETURN n; END $$", ctx)
    # per outer iter: k=1 count, k=2 skipped, k=3 count -> 2; total 4
    assert _rows(res) == [(4,)]


def test_nested_if_blocks(engine):
    """Nested IF inside IF, including an inner ELSE that must not be
    mistaken for the outer IF's ELSE."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE n NUMBER DEFAULT 0; BEGIN "
        "IF (1 = 1) THEN "
        "  IF (2 = 3) THEN LET n := 100; "
        "  ELSE LET n := 5; "
        "  END IF; "
        "  LET n := n + 1; "
        "ELSE "
        "  LET n := 999; "
        "END IF; RETURN n; END $$", ctx)
    assert _rows(res) == [(6,)]


def test_nested_return_from_inner_loop(engine):
    """RETURN inside the innermost loop unwinds the whole block."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ BEGIN "
        "FOR i IN 1 TO 100 DO "
        "  FOR j IN 1 TO 100 DO "
        "    IF (i * 10 + j = 23) THEN RETURN i * 100 + j; END IF; "
        "  END FOR; "
        "END FOR; RETURN -1; END $$", ctx)
    # first hit is i=1, j=13 (1*10+13 = 23) -> 1*100+13
    assert _rows(res) == [(113,)]


def test_labeled_break_unmatched_label_raises(engine):
    """BREAK with a label that matches no enclosing loop escapes every
    loop and surfaces as a syntax error (was NotImplementedError
    pre-r8)."""
    import pytest as _pytest

    from snowflake_emulator_spark.errors import SnowflakeError

    ctx = SessionContext()
    with _pytest.raises(SnowflakeError, match="OUTER_LABEL"):
        engine.execute(
            "EXECUTE IMMEDIATE $$ BEGIN "
            "FOR i IN 1 TO 2 DO BREAK outer_label; END FOR; "
            "RETURN 0; END $$", ctx)


def test_labeled_break_exits_outer_loop(engine):
    """BREAK <label> from the inner loop exits the labeled OUTER loop
    directly (bare BREAK would only exit the inner one)."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$\n"
        "DECLARE n NUMBER DEFAULT 0;\n"
        "BEGIN\n"
        "  outer_l: FOR i IN 1 TO 10 DO\n"
        "    FOR j IN 1 TO 10 DO\n"
        "      LET n := n + 1;\n"
        "      IF (n >= 7) THEN BREAK outer_l; END IF;\n"
        "    END FOR;\n"
        "  END FOR outer_l;\n"
        "  RETURN n;\n"
        "END\n"
        "$$", ctx)
    assert _rows(res) == [(7,)]


def test_labeled_continue_iterates_outer_loop(engine):
    """CONTINUE <label> from the inner loop resumes the labeled OUTER
    loop's next iteration: the inner loop contributes exactly one
    count per outer iteration and post-inner statements are skipped."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$\n"
        "DECLARE n NUMBER DEFAULT 0; skipped NUMBER DEFAULT 0;\n"
        "BEGIN\n"
        "  outer_l: FOR i IN 1 TO 3 DO\n"
        "    FOR j IN 1 TO 5 DO\n"
        "      LET n := n + 1;\n"
        "      CONTINUE outer_l;\n"
        "    END FOR;\n"
        "    LET skipped := skipped + 1;\n"
        "  END FOR outer_l;\n"
        "  RETURN n || ':' || skipped;\n"
        "END\n"
        "$$", ctx)
    assert _rows(res) == [("3:0",)]


def test_labeled_break_matching_innermost(engine):
    """A label on the innermost loop behaves like bare BREAK."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$\n"
        "DECLARE n NUMBER DEFAULT 0;\n"
        "BEGIN\n"
        "  lp: WHILE (n < 100) DO\n"
        "    LET n := n + 1;\n"
        "    IF (n = 4) THEN BREAK lp; END IF;\n"
        "  END WHILE lp;\n"
        "  RETURN n;\n"
        "END\n"
        "$$", ctx)
    assert _rows(res) == [(4,)]


def test_open_fetch_close_cursor(engine):
    """OPEN/FETCH/CLOSE: sequential fetches walk the cursor rows;
    fetching past the last row sets the targets to NULL."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE ofc_t (id INTEGER, v VARCHAR)", ctx)
    engine.execute(
        "INSERT INTO ofc_t VALUES (1, 'a'), (2, 'b')", ctx)
    res = engine.execute(
        "EXECUTE IMMEDIATE $$\n"
        "DECLARE c1 CURSOR FOR SELECT id, v FROM ofc_t ORDER BY id;\n"
        "BEGIN\n"
        "  OPEN c1;\n"
        "  FETCH c1 INTO i1, v1;\n"
        "  FETCH c1 INTO i2, v2;\n"
        "  FETCH c1 INTO i3, v3;\n"
        "  CLOSE c1;\n"
        "  RETURN i1 || v1 || ':' || i2 || v2 || ':' ||"
        " COALESCE(i3 || v3, 'null');\n"
        "END\n"
        "$$", ctx)
    assert _rows(res) == [("1a:2b:null",)]


def test_fetch_unopened_cursor_errors(engine):
    import pytest as _pytest

    from snowflake_emulator_spark.errors import SnowflakeError

    ctx = SessionContext()
    engine.execute("CREATE TABLE ofc_u (id INTEGER)", ctx)
    with _pytest.raises(SnowflakeError, match="not open"):
        engine.execute(
            "EXECUTE IMMEDIATE $$\n"
            "DECLARE c1 CURSOR FOR SELECT id FROM ofc_u;\n"
            "BEGIN\n"
            "  FETCH c1 INTO x;\n"
            "  RETURN x;\n"
            "END\n"
            "$$", ctx)


def test_open_cursor_binds_resolved_at_open(engine):
    """:name binds in the DECLAREd cursor SQL resolve to the variable
    values AT OPEN time (Snowflake semantics), not DECLARE time."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE ofc_b (id INTEGER)", ctx)
    engine.execute("INSERT INTO ofc_b VALUES (1), (2), (3)", ctx)
    res = engine.execute(
        "EXECUTE IMMEDIATE $$\n"
        "DECLARE lo NUMBER DEFAULT 0;\n"
        "  c1 CURSOR FOR SELECT COUNT(*) AS n FROM ofc_b WHERE id > :lo;\n"
        "BEGIN\n"
        "  LET lo := 1;\n"
        "  OPEN c1;\n"
        "  FETCH c1 INTO n;\n"
        "  CLOSE c1;\n"
        "  RETURN n;\n"
        "END\n"
        "$$", ctx)
    assert _rows(res) == [(2,)]


def test_nested_cursor_loop_with_inner_for(engine):
    """Cursor FOR loop wrapping a range FOR loop: rec.col substitution
    must survive into the nested body."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE nst_t (v INTEGER)", ctx)
    engine.execute("INSERT INTO nst_t VALUES (2), (3)", ctx)
    res = engine.execute(
        "EXECUTE IMMEDIATE $$ DECLARE n NUMBER DEFAULT 0; "
        "cur CURSOR FOR SELECT v FROM nst_t ORDER BY v; BEGIN "
        "FOR rec IN cur DO "
        "  FOR i IN 1 TO rec.v DO LET n := n + rec.v; END FOR; "
        "END FOR; RETURN n; END $$", ctx)
    # v=2: 2 iters of +2 = 4; v=3: 3 iters of +3 = 9 -> 13
    assert _rows(res) == [(13,)]


def test_scalar_if_function_inside_statement_body(engine):
    """A scalar IF(cond, a, b) call inside a SQL statement body is an
    expression, not an IF-construct open (r6 advice): it must not
    swallow the rest of the script into an unbalanced IF group."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$\n"
        "BEGIN\n"
        "  LET x := (SELECT IF(1 < 2, 'yes', 'no'));\n"
        "  LET y := 0;\n"
        "  IF (x = 'yes') THEN\n"
        "    LET y := (SELECT IF(2 > 1, 10, 20));\n"
        "  END IF;\n"
        "  RETURN x || ':' || y;\n"
        "END\n"
        "$$", ctx)
    assert _rows(res) == [("yes:10",)]


def test_scalar_if_after_case_then_inside_if_body(engine):
    """A scalar IF( directly following a CASE expression's THEN must
    not count as a construct open (r7 advice): the THEN belongs to
    CASE, so without the expression-context guard _net_depth saw 2
    opens and _collect_construct swallowed the rest of the script."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$\n"
        "BEGIN\n"
        "  LET x := 1;\n"
        "  IF (x = 1) THEN\n"
        "    LET y := (SELECT CASE WHEN 1 < 2 THEN IF(2 > 1, 10, 20)"
        " ELSE 3 END);\n"
        "  ELSE\n"
        "    LET y := -1;\n"
        "  END IF;\n"
        "  RETURN y;\n"
        "END\n"
        "$$", ctx)
    assert _rows(res) == [(10,)]


def test_scalar_if_after_bare_case_then(engine):
    """Same failure mode without any enclosing parens: a bare
    CASE WHEN ... THEN IF(...) END in a LET body — caught by the
    CASE...END depth tracking rather than the paren-balance guard."""
    ctx = SessionContext()
    res = engine.execute(
        "EXECUTE IMMEDIATE $$\n"
        "BEGIN\n"
        "  LET x := 2;\n"
        "  IF (x = 2) THEN\n"
        "    LET y := (SELECT CASE WHEN 2 = 2 THEN IF(3 > 1, 'hi', 'lo')"
        " ELSE 'none' END);\n"
        "    LET z := y || '!';\n"
        "  END IF;\n"
        "  RETURN z;\n"
        "END\n"
        "$$", ctx)
    assert _rows(res) == [("hi!",)]


def test_for_loop_over_inline_query(engine):
    """r10: FOR rec IN (SELECT ...) DO — the query form of the cursor
    loop (previously required a DECLAREd CURSOR)."""
    r = engine.execute("""EXECUTE IMMEDIATE $$
DECLARE t INTEGER DEFAULT 0;
BEGIN
  FOR rec IN (SELECT id, id * 2 AS d FROM range(5)) DO
    LET t := t + rec.d;
  END FOR;
  RETURN t;
END $$""")
    assert str(r.rows[0][0]) == "20"
    # nested inside an inline-query loop; BREAK binds to the inner loop
    r = engine.execute("""EXECUTE IMMEDIATE $$
DECLARE t INTEGER DEFAULT 0;
BEGIN
  FOR rec IN (SELECT id FROM range(3)) DO
    FOR i IN 1 TO 5 DO
      IF (i = 3) THEN BREAK; END IF;
      LET t := t + rec.id + i;
    END FOR;
  END FOR;
  RETURN t;
END $$""")
    # per rec: (id+1)+(id+2); ids 0,1,2 -> 3 + 5 + 7 = 15
    assert str(r.rows[0][0]) == "15"
