"""Differential fuzz: randomized translator expressions vs DuckDB
(r5 verdict item 10; families grown per r6/r7 verdicts). Fixed seeds
for CI determinism; run ``scratch/fuzz_differential.py`` for
open-ended sweeps.

r8 additions (VERDICT r7 item 6): window functions with NULL
orderings (Snowflake ORDER BY defaults vs Spark's), VARIANT path
access over events.props, and randomized ASOF-join configs against
DuckDB's native ASOF JOIN; fixed-seed case count raised 80 -> 300."""

import os

import duckdb
import pytest

from snowflake_emulator_spark.inventory import load_views
from snowflake_emulator_spark.plans.translator import translate

from difffuzz import (
    PROBE_AGG_SQL,
    generate_mr_cases,
    generate_script_cases,
    run_mr_cases,
    run_script_cases,
    PROBE_EVENTS_SQL,
    PROBE_SQL,
    TEMPLATES_AGG,
    TEMPLATES_DATEFMT,
    TEMPLATES_EVENTS,
    generate,
    generate_asof_cases,
    generate_join_cases,
    generate_nullsem_cases,
    run_asof_cases,
    run_probe_cases,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

SEED = 20260814
COUNT = 300          # r8: raised from 80
COUNT_EVENTS = 60
COUNT_AGG = 60
COUNT_DATEFMT = 40
COUNT_ASOF = 6
COUNT_NULLSEM = 12
COUNT_JOIN = 12       # each is a full two-engine query; sweep runs more


@pytest.fixture(scope="module")
def probes(spark):
    load_views(spark, SF_DIR)
    con = duckdb.connect()
    for t in ("customer", "orders", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield spark, con
    con.close()


def test_differential_fuzz_fixed_seed(probes):
    spark, con = probes
    cases = generate(SEED, COUNT)
    failures = run_probe_cases(spark, con, translate, cases,
                               PROBE_SQL, "o_orderkey")
    assert not failures, (
        f"{len(failures)} differential mismatches:\n" + "\n".join(failures[:20]))


def test_differential_fuzz_variant_paths(probes):
    spark, con = probes
    cases = generate(SEED + 1, COUNT_EVENTS, templates=TEMPLATES_EVENTS)
    failures = run_probe_cases(spark, con, translate, cases,
                               PROBE_EVENTS_SQL, "event_id")
    assert not failures, (
        f"{len(failures)} variant-path mismatches:\n" + "\n".join(failures[:20]))


def test_differential_fuzz_aggregates(probes):
    spark, con = probes
    cases = generate(SEED + 3, COUNT_AGG, templates=TEMPLATES_AGG)
    failures = run_probe_cases(spark, con, translate, cases,
                               PROBE_AGG_SQL, "c_nationkey")
    assert not failures, (
        f"{len(failures)} aggregate mismatches:\n" + "\n".join(failures[:20]))


def test_differential_fuzz_datefmt(probes):
    spark, con = probes
    cases = generate(SEED + 6, COUNT_DATEFMT, templates=TEMPLATES_DATEFMT)
    failures = run_probe_cases(spark, con, translate, cases,
                               PROBE_SQL, "o_orderkey")
    assert not failures, (
        f"{len(failures)} datefmt mismatches:\n" + "\n".join(failures[:20]))


def test_differential_fuzz_asof(probes):
    spark, con = probes
    cases = generate_asof_cases(SEED + 2, COUNT_ASOF)
    failures = run_asof_cases(spark, con, translate, cases)
    assert not failures, (
        f"{len(failures)} ASOF mismatches:\n" + "\n".join(failures[:10]))


def test_differential_fuzz_match_recognize(probes, tmp_path):
    spark, con = probes
    from snowflake_emulator_spark.engine import Engine

    eng = Engine(spark, base_dir=str(tmp_path / "mr_wh"))
    cases = generate_mr_cases(SEED + 7, 6)
    failures = run_mr_cases(eng.executor, con, cases)
    assert not failures, (
        f"{len(failures)} MATCH_RECOGNIZE mismatches:\n" + "\n".join(failures[:10]))


def test_differential_fuzz_scripting(probes, tmp_path):
    spark, con = probes
    from snowflake_emulator_spark.engine import Engine

    eng = Engine(spark, base_dir=str(tmp_path / "scr_wh"))
    cases = generate_script_cases(SEED + 8, 12)
    failures = run_script_cases(eng, cases)
    assert not failures, (
        f"{len(failures)} scripting mismatches:\n" + "\n".join(failures[:10]))


def test_differential_fuzz_null_semantics(probes):
    spark, con = probes
    cases = generate_nullsem_cases(SEED + 4, COUNT_NULLSEM)
    failures = run_asof_cases(spark, con, translate, cases)
    assert not failures, (
        f"{len(failures)} NULL-semantics mismatches:\n" + "\n".join(failures[:10]))


def test_differential_fuzz_join_types(probes):
    spark, con = probes
    cases = generate_join_cases(SEED + 5, COUNT_JOIN)
    failures = run_asof_cases(spark, con, translate, cases)
    assert not failures, (
        f"{len(failures)} join-type mismatches:\n" + "\n".join(failures[:10]))


def test_differential_fuzz_merge_dml(probes, tmp_path):
    """r10 (VERDICT r9 item 4): random MERGE statements vs a pure-Python
    implementation of Snowflake MERGE semantics (DuckDB 1.0.0 has no
    native MERGE), comparing final table states, DML counters, and
    strict nondeterministic-merge error/rollback behavior."""
    spark, con = probes
    from snowflake_emulator_spark.engine import Engine

    from difffuzz import generate_merge_cases, run_merge_cases

    eng = Engine(spark, base_dir=str(tmp_path / "mrg_wh"))
    cases = generate_merge_cases(SEED + 9, 12)
    failures = run_merge_cases(eng, cases)
    assert not failures, (
        f"{len(failures)} MERGE mismatches:\n" + "\n".join(failures[:10]))


def test_differential_fuzz_update_delete(probes, tmp_path):
    """r10: random UPDATE/DELETE (simple + FROM/USING forms) — the same
    statement runs on the engine and DuckDB natively; compares affected
    counts and final table states."""
    spark, con = probes
    from snowflake_emulator_spark.engine import Engine

    from difffuzz import generate_dml_cases, run_dml_cases

    eng = Engine(spark, base_dir=str(tmp_path / "dml_wh"))
    cases = generate_dml_cases(SEED + 10, 12)
    failures = run_dml_cases(eng, cases)
    assert not failures, (
        f"{len(failures)} UPDATE/DELETE mismatches:\n" + "\n".join(failures[:10]))


def test_differential_fuzz_update_delete_subquery_forms(probes, tmp_path):
    """UPDATE/DELETE with IN / NOT IN / EXISTS / NOT EXISTS conditions,
    target aliases and FROM/USING (subquery) sources, checked against
    DuckDB running the same text."""
    spark, con = probes
    from snowflake_emulator_spark.engine import Engine

    from difffuzz import DML_SUBQUERY_KINDS, generate_dml_cases, run_dml_cases

    eng = Engine(spark, base_dir=str(tmp_path / "dml_sub_wh"))
    cases = generate_dml_cases(SEED + 11, 21, kinds=DML_SUBQUERY_KINDS)
    assert {c["desc"] for c in cases} == {f"dml[{k}]" for k in DML_SUBQUERY_KINDS}
    failures = run_dml_cases(eng, cases)
    assert not failures, (
        f"{len(failures)} UPDATE/DELETE mismatches:\n" + "\n".join(failures[:10]))


def test_differential_fuzz_mr_overlap(probes, tmp_path):
    """r10 (VERDICT r9 item 5): overlapping DEFINE predicates + SKIP TO
    NEXT ROW vs a byte-encoded character-class replay through Python's
    re engine (independent backtracking implementation), with DuckDB
    evaluating the predicate booleans."""
    spark, con = probes
    from snowflake_emulator_spark.engine import Engine

    from difffuzz import generate_mr_overlap_cases, run_mr_overlap_cases

    eng = Engine(spark, base_dir=str(tmp_path / "mro_wh"))
    cases = generate_mr_overlap_cases(SEED + 11, 8)
    failures = run_mr_overlap_cases(eng.executor, con, cases)
    assert not failures, (
        f"{len(failures)} MR-overlap mismatches:\n" + "\n".join(failures[:10]))


def test_differential_fuzz_connect_by(probes):
    """r10: randomized CONNECT BY configs (tree arity, START WITH
    present/omitted, post-hierarchy WHERE, SYS_CONNECT_BY_PATH /
    CONNECT_BY_ROOT / PRIOR select-list functions) vs hand-rolled
    DuckDB recursive CTEs."""
    spark, con = probes
    from difffuzz import generate_connectby_cases

    con.execute(
        f"CREATE VIEW IF NOT EXISTS nation AS SELECT * FROM '{SF_DIR}/nation.parquet'")
    cases = generate_connectby_cases(SEED + 12, 10)
    failures = run_asof_cases(spark, con, translate, cases)
    assert not failures, (
        f"{len(failures)} CONNECT BY mismatches:\n" + "\n".join(failures[:10]))


def test_differential_fuzz_multi_table_insert(probes, tmp_path):
    """r10: random INSERT ALL|FIRST routing (WHEN conds, ELSE,
    value mappings) vs a DuckDB decomposed-insert replay. This family
    found the NULL-WHEN-condition row-drop bug on its first run."""
    spark, con = probes
    from snowflake_emulator_spark.engine import Engine

    from difffuzz import generate_mti_cases, run_mti_cases

    eng = Engine(spark, base_dir=str(tmp_path / "mti_wh"))
    cases = generate_mti_cases(SEED + 13, 10)
    failures = run_mti_cases(eng, cases)
    assert not failures, (
        f"{len(failures)} multi-table INSERT mismatches:\n"
        + "\n".join(failures[:10]))


def test_differential_fuzz_mr_prior(probes, tmp_path):
    """r10, semantics corrected r11: PRIOR/NEXT navigation inside
    DEFINE — physical partition lag/lead, so the DuckDB byte-mask
    replay is exact for EVERY pattern, including navigation-starting
    ones (the r11 generator emits those)."""
    spark, con = probes
    from snowflake_emulator_spark.engine import Engine

    from difffuzz import generate_mr_prior_cases, run_mr_overlap_cases

    eng = Engine(spark, base_dir=str(tmp_path / "mrp_wh"))
    cases = generate_mr_prior_cases(SEED + 14, 8)
    failures = run_mr_overlap_cases(eng.executor, con, cases)
    assert not failures, (
        f"{len(failures)} MR-PRIOR mismatches:\n" + "\n".join(failures[:10]))


def test_differential_fuzz_merge_nonstrict(probes, tmp_path):
    """r10: ERROR_ON_NONDETERMINISTIC_MERGE=FALSE — duplicate
    actionable matches apply exactly ONE first-match action per target
    row instead of raising; invariant-checked (upd+del == actioned
    targets, ins == simulator, final rowcount arithmetic)."""
    spark, con = probes
    from snowflake_emulator_spark.engine import Engine

    from difffuzz import (generate_merge_nonstrict_cases,
                          run_merge_nonstrict_cases)

    eng = Engine(spark, base_dir=str(tmp_path / "ns_wh"))
    cases = generate_merge_nonstrict_cases(SEED + 15, 10)
    failures = run_merge_nonstrict_cases(eng, cases)
    assert not failures, (
        f"{len(failures)} non-strict MERGE violations:\n"
        + "\n".join(failures[:10]))


def test_differential_fuzz_substring_dedup(probes):
    """r11: exact-substring dedup over random corpora with planted
    duplicate spans — cleaned text, span counts and removed-char totals
    vs a full DuckDB replay (anchors -> df>1 -> islands -> splice)."""
    spark, con = probes
    from difffuzz import generate_substr_cases, run_substr_cases

    cases = generate_substr_cases(SEED + 16, 10)
    failures = run_substr_cases(spark, con, cases)
    assert not failures, (
        f"{len(failures)} substring-dedup mismatches:\n"
        + "\n".join(failures[:10]))


def test_differential_fuzz_mr_subset(probes, tmp_path):
    """r13: SUBSET union symbols — mutually exclusive value-bin symbols
    make each matched row's classifier recoverable from its own char,
    so the Python re replay computes COUNT/FIRST/LAST over the subset's
    member rows exactly."""
    spark, con = probes
    from snowflake_emulator_spark.engine import Engine

    from difffuzz import generate_mr_subset_cases, run_mr_subset_cases

    eng = Engine(spark, base_dir=str(tmp_path / "mrsub_wh"))
    cases = generate_mr_subset_cases(SEED + 14, 8)
    failures = run_mr_subset_cases(eng.executor, con, cases)
    assert not failures, (
        f"{len(failures)} MR-SUBSET mismatches:\n" + "\n".join(failures[:10]))
