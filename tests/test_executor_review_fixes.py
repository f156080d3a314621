"""Regression suite for the r4 high-effort executor review findings."""

import pytest

from snowflake_emulator_spark.sessions import SessionContext


def _rows(res):
    return [tuple(r) for r in res.rows]


def test_namespace_switch_invalidates_bare_aliases(engine):
    """After USE DATABASE, a bare table name from the OLD namespace
    must raise object-not-found, not silently serve stale rows."""
    ctx = SessionContext()
    engine.execute("CREATE DATABASE IF NOT EXISTS nsdb2", ctx)
    engine.execute("CREATE TABLE ns_t (id INTEGER)", ctx)
    engine.execute("INSERT INTO ns_t VALUES (1)", ctx)
    assert _rows(engine.execute("SELECT * FROM ns_t", ctx)) == [(1,)]
    engine.execute("USE DATABASE nsdb2", ctx)
    with pytest.raises(Exception):
        engine.execute("SELECT * FROM ns_t", ctx)


def test_alter_add_primary_key_is_metadata_only(engine):
    """ALTER TABLE ... ADD PRIMARY KEY must not append a bogus column
    (the old add-column regex parsed col='PRIMARY', type='KEY (id)')."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE pk_t (id INTEGER, v VARCHAR)", ctx)
    engine.execute("INSERT INTO pk_t VALUES (1, 'a')", ctx)
    engine.execute("ALTER TABLE pk_t ADD PRIMARY KEY (id)", ctx)
    res = engine.execute("SELECT * FROM pk_t", ctx)
    assert res.columns == ["ID", "V"] or [c.upper() for c in res.columns] == ["ID", "V"]
    d = engine.execute("SELECT GET_DDL('TABLE', 'pk_t') AS d", ctx).rows[0][0]
    assert "PRIMARY KEY" in d
    engine.execute("ALTER TABLE pk_t ADD UNIQUE (v)", ctx)  # no-op, no error
    # a real add-column still works
    engine.execute("ALTER TABLE pk_t ADD COLUMN extra DOUBLE", ctx)
    assert len(engine.execute("SELECT * FROM pk_t", ctx).columns) == 3


def test_drop_mv_refuses_base_table(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE base_t (id INTEGER)", ctx)
    with pytest.raises(Exception, match="not a materialized view"):
        engine.execute("DROP MATERIALIZED VIEW base_t", ctx)
    with pytest.raises(Exception, match="not a dynamic table"):
        engine.execute("DROP DYNAMIC TABLE base_t", ctx)
    # the table survived
    engine.execute("SELECT * FROM base_t", ctx)


def test_dml_substitutes_variables_and_udfs(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE dml_t (id INTEGER, v DOUBLE)", ctx)
    engine.execute("SET n = 7", ctx)
    engine.execute(
        "CREATE FUNCTION dml_double(x DOUBLE) RETURNS DOUBLE AS 'x * 2'", ctx)
    engine.execute("INSERT INTO dml_t VALUES ($n, dml_double(1.5))", ctx)
    assert _rows(engine.execute("SELECT id, v FROM dml_t", ctx)) == [(7, 3.0)]
    engine.execute("UPDATE dml_t SET v = dml_double(v) WHERE id = $n", ctx)
    assert _rows(engine.execute("SELECT v FROM dml_t", ctx)) == [(6.0,)]
    engine.execute("DELETE FROM dml_t WHERE id = $n", ctx)
    assert engine.execute("SELECT count(*) AS n FROM dml_t", ctx).rows[0][0] == 0


def test_insert_unknown_column_raises(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE ic_t (id INTEGER, v VARCHAR)", ctx)
    with pytest.raises(Exception, match="TYPO_COL"):
        engine.execute("INSERT INTO ic_t (typo_col) VALUES (1)", ctx)
    assert engine.execute("SELECT count(*) AS n FROM ic_t", ctx).rows[0][0] == 0


def test_create_or_replace_view_invalid_preserves_old(engine):
    ctx = SessionContext()
    engine.execute("CREATE TABLE vw_t (id INTEGER)", ctx)
    engine.execute("INSERT INTO vw_t VALUES (1)", ctx)
    engine.execute("CREATE VIEW vw_v AS SELECT id FROM vw_t", ctx)
    with pytest.raises(Exception):
        engine.execute(
            "CREATE OR REPLACE VIEW vw_v AS SELECT no_such_col FROM vw_t", ctx)
    # the ORIGINAL view still works
    assert _rows(engine.execute("SELECT * FROM vw_v", ctx)) == [(1,)]


def test_dynamic_pivot_any_date_values(engine):
    """PIVOT(... FOR d IN (ANY)) over a DATE column renders typed
    literals, not bare 2024-01-15 arithmetic."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE pv_t (d DATE, amt INTEGER)", ctx)
    engine.execute(
        "INSERT INTO pv_t VALUES ('2024-01-15'::DATE, 10), "
        "('2024-02-01'::DATE, 20)", ctx)
    r = engine.execute("SELECT * FROM pv_t PIVOT(sum(amt) FOR d IN (ANY))", ctx)
    assert sorted(r.rows[0]) == [10, 20]


def test_qualified_udf_call_and_schema_scoping(engine):
    ctx = SessionContext()
    engine.execute(
        "CREATE FUNCTION qual_f(x NUMBER) RETURNS NUMBER AS 'x + 1'", ctx)
    # qualified spellings resolve (schema and db.schema)
    assert engine.execute(
        "SELECT public.qual_f(1) AS v", ctx).rows[0][0] == 2
    res = engine.execute("SELECT qual_f(1) AS a, PUBLIC.QUAL_F(2) AS b", ctx)
    assert _rows(res) == [(2, 3)]


def test_show_like_escapes_metacharacters(engine):
    """LIKE patterns are SQL wildcards, not regex: '.' must be literal
    (no accidental any-char match) and regex metachars must not crash."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE fooxbar (id INTEGER)", ctx)
    # unescaped '.' would match the X; escaped it matches nothing
    assert all(r[0] != "FOOXBAR" for r in
               engine.execute("SHOW TABLES LIKE 'FOO.BAR'", ctx).rows)
    names = [r[0] for r in engine.execute("SHOW TABLES LIKE 'FOO%BAR'", ctx).rows]
    assert "FOOXBAR" in names
    # regex metacharacters in the pattern must not crash
    assert engine.execute("SHOW TABLES LIKE '('", ctx).rows == []


def test_show_grants_on_table_named_like_tables(engine):
    """SHOW GRANTS ON TABLE MY_TABLES must hit the GRANTS handler, not
    SHOW TABLES (substring routing bug)."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE my_tables (id INTEGER)", ctx)
    engine.execute("GRANT SELECT ON TABLE my_tables TO ROLE analyst", ctx)
    r = engine.execute("SHOW GRANTS ON TABLE my_tables", ctx)
    assert r.columns[0] == "privilege"
    assert r.rows and r.rows[0][0] == "SELECT"


# ---------------------------------------------------------------------------
# r4 engine/operators review batch
# ---------------------------------------------------------------------------

def test_asof_join_matched_null_not_skipped(spark):
    """The matched right row's NULL value must come through as NULL —
    not an OLDER row's value — and multi-column outputs must never
    stitch fields from different right rows."""
    from snowflake_emulator_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 3)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 1, 5.0, "old"), (1, 2, None, "new")],
        "k long, ts long, a double, b string")
    out = asof_join(left, right, by=["k"], left_time="ts", right_time="ts",
                    value_cols=["a", "b"], suffix="").collect()
    assert len(out) == 1
    # DuckDB ASOF JOIN semantics: the t=2 row matches -> a NULL, b 'new'
    assert out[0]["a"] is None and out[0]["b"] == "new"


def test_set_session_prefixed_variable_names(engine):
    """SET SESSION_START = ... is a session VARIABLE (the 'SET SESSION'
    parameter guard must not swallow names merely starting with it)."""
    ctx = SessionContext()
    engine.execute("SET session_start = '2020-01-01'", ctx)
    res = engine.execute("SELECT $session_start AS s", ctx)
    assert res.rows[0][0] == "2020-01-01"


def test_split_statements_double_quoted_identifiers(engine):
    ctx = SessionContext()
    res = engine.execute('SELECT 1 AS "a;b"', ctx)
    assert res.columns == ["a;b"] and res.rows == [[1]]
    # apostrophe inside a quoted identifier must not fuse statements
    engine.execute('CREATE TABLE dq_t (id INTEGER)', ctx)
    res = engine.execute(
        'SELECT 2 AS "it\'s"; INSERT INTO dq_t VALUES (7)', ctx)
    assert engine.execute("SELECT * FROM dq_t", ctx).rows == [[7]]


def test_sample_frames_corrupt_durations(spark):
    """Negative duration_ms must not kill the job; NULL duration emits
    no frames."""
    from snowflake_emulator_spark.operators import multimodal
    rows = [
        (1, "video", {"duration_ms": 2000}),
        (2, "video", {"duration_ms": -1}),    # corrupt
        (3, "video", {"duration_ms": None}),  # unknown
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, meta struct<duration_ms: long>")
    out = multimodal.sample_frames(df, every_ms=1000).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    assert sorted(by_id[1]) == [0, 1000, 2000]
    assert 2 not in by_id and 3 not in by_id


def test_decontaminate_blank_docs_not_flagged(spark):
    from snowflake_emulator_spark.operators import decontaminate
    corpus = spark.createDataFrame(
        [(1, "   "), (2, "real shared words here")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, ""), (101, "real shared words here")],
        "doc_id long, text string")
    out = {r["doc_id"] for r in
           decontaminate.contaminated_docs(corpus, bench, n=1).collect()}
    assert out == {2}          # the blank doc never matches via ''


# ---------------------------------------------------------------------------
# r4 dedup/text/similarity review batch
# ---------------------------------------------------------------------------

def test_kmeans_seeds_k_lowest_ids_any_base(spark):
    """Centroid seeding uses the k LOWEST vec_ids — filter(id < k)
    silently seeded zero centroids for non-zero-based id spaces."""
    from snowflake_emulator_spark.operators import similarity

    rows = [(1000 + i, [float(i % 2) * 4, 1.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.kmeans_fixed_rounds(df, k=2, rounds=2).collect()
    assert sorted(r["n_vecs"] for r in out) == [3, 3]


def test_match_recognize_optional_pattern_no_zero_width(spark):
    """Fully-optional patterns (A? B?) must not emit zero-width
    matches (IndexError on measures / n_rows=0 garbage rows)."""
    from snowflake_emulator_spark.operators.match_recognize import match_recognize

    rows = [(1, 1, "x"), (1, 2, "a"), (1, 3, "x")]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    define = {"A": "event_type = 'a'", "B": "event_type = 'b'"}
    out = match_recognize(df, "user_id", ["ts"], define, "A? B?",
                          measure_cols=["ts"]).collect()
    assert all(r["n_rows"] >= 1 for r in out)
    assert len(out) == 1 and out[0]["ts_first"] == 2


def test_lsh_band_arithmetic_validated(spark):
    from snowflake_emulator_spark.operators import dedup

    df = spark.createDataFrame([(1, "abc def")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        dedup.minhash_lsh_pairs(df, num_perm=8, bands=16)
    with pytest.raises(ValueError, match="evenly"):
        dedup.minhash_lsh_pairs(df, num_perm=10, bands=4)
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_pairs(df, bits=2, max_hamming=3)


def test_zero_norm_vector_never_ranks_first(spark):
    """An all-zero embedding must not capture rank 1 via NaN."""
    from snowflake_emulator_spark.operators import similarity

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk_bruteforce(df, query_ids=[0], k=2).collect()
    ranked = {r["rank"]: r["neighbor_id"] for r in out}
    assert ranked[1] == 1          # the real neighbor, not the zero vector


def test_batch_and_streaming_fingerprints_agree(spark):
    """Duplicate identity must be byte-identical across batch and
    streaming (incl. \\f / \\x0b whitespace)."""
    from pyspark.sql import functions as F

    from snowflake_emulator_spark.operators.textstats import normalized_text
    from snowflake_emulator_spark.streaming.dedup_stream import _fingerprint

    df = spark.createDataFrame(
        [("a\fb",), ("a\x0bb",), ("Plain text!",)], "text string")
    got = df.select(
        _fingerprint(F.col("text")).alias("s"),
        F.md5(normalized_text(F.col("text"))).alias("b")).collect()
    assert all(r["s"] == r["b"] for r in got)


def test_word_count_distinct_empty_text(spark):
    from pyspark.sql import functions as F

    from snowflake_emulator_spark.operators import textstats

    df = spark.createDataFrame([("",), ("   ",), ("a b a",)], "text string")
    got = [r[0] for r in df.select(
        textstats.word_count_distinct(F.col("text"))).collect()]
    assert got == [0, 0, 2]


def test_dsir_unseen_bigram_fallback_uses_context(spark):
    """Rare gibberish bigrams unseen in the target slice must score
    BELOW target-like text (the flat 1/vocab fallback scored them
    above their corpus probability)."""
    from snowflake_emulator_spark.operators import textstats

    rows = [(i, "the quick brown fox runs fast", "tgt") for i in range(5)]
    rows += [(100, "the quick brown fox runs fast", "other"),
             (101, "zq xv jj kk qq ww", "other")]       # junk bigrams
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r["dsir_weight"] for r in
           textstats.dsir_importance_weights(df, "source = 'tgt'").collect()}
    assert out[100] > out[101]     # target-like beats junk
    assert out[101] < 0            # junk scores negative, not positive


# ---------------------------------------------------------------------------
# r4 bindings/streaming/infra review batch
# ---------------------------------------------------------------------------

def test_binding_substitution_literal_aware(engine):
    """:N inside string literals/comments is untouched; a binding VALUE
    containing ':1' or '?' is never re-substituted; backslashes render
    safely through Spark's default escape parsing."""
    ctx = SessionContext()
    res = engine.execute(
        "SELECT ':1 not a bind' AS s, :1 AS v",
        ctx, bindings={"1": {"type": "FIXED", "value": "5"}})
    assert _rows(res) == [(":1 not a bind", 5)]
    res = engine.execute(
        "SELECT :1 AS a, :2 AS b", ctx,
        bindings={"1": {"type": "TEXT", "value": "x"},
                  "2": {"type": "TEXT", "value": "a :1 b"}})
    assert _rows(res) == [("x", "a :1 b")]
    res = engine.execute(
        "SELECT 1 /* ok? */ AS c, ? AS d", ctx,
        bindings={"1": {"type": "FIXED", "value": "9"}})
    assert _rows(res) == [(1, 9)]
    res = engine.execute(
        "SELECT :1 AS p", ctx,
        bindings={"1": {"type": "TEXT", "value": "C:\\temp"}})
    assert res.rows[0][0] == "C:\\temp"
    res = engine.execute(
        "SELECT :1 AS p", ctx,
        bindings={"1": {"type": "TEXT", "value": "ends with \\"}})
    assert res.rows[0][0] == "ends with \\"


def test_parenthesized_query_classified_as_query(engine):
    ctx = SessionContext()
    res = engine.execute("(SELECT 1 AS v)", ctx)
    assert _rows(res) == [(1,)]


def test_warehouse_state_and_list_thread_safe(engine):
    """set_state on a dropped warehouse raises instead of mutating an
    orphan (lookup+mutate now atomic)."""
    from snowflake_emulator_spark import errors as err

    engine.warehouses.create("wh_race")
    engine.warehouses.drop("wh_race")
    with pytest.raises(err.SnowflakeError):
        engine.warehouses.set_state("wh_race", "SUSPEND")


def test_stage_put_to_root_raises_typed_error(engine):
    from snowflake_emulator_spark import errors as err

    ctx = SessionContext()
    engine.execute("CREATE STAGE rootput_stage", ctx)
    stage = engine.catalog.get("STAGE", "rootput_stage", ctx.database, ctx.schema)
    with pytest.raises(err.SnowflakeError, match="directory"):
        engine.stages.put_bytes(stage, b"x", "/")


def test_upsert_keys_only_stream_merge(engine, spark, tmp_path):
    """A keys-only micro-batch omits the empty UPDATE SET clause."""
    import json as _json

    from snowflake_emulator_spark.streaming import upsert_stream
    from pyspark.sql import types as T

    ctx = SessionContext()
    engine.execute("CREATE TABLE ko_t (id INTEGER)", ctx)
    src = tmp_path / "ko_src"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        for r in [{"id": 1}, {"id": 2}, {"id": 1}]:
            f.write(_json.dumps(r) + "\n")
    schema = T.StructType([T.StructField("id", T.IntegerType())])
    stream = spark.readStream.schema(schema).json(str(src))
    upsert_stream.run_upsert_stream(stream, engine, "ko_t", ["id"], "id")
    got = sorted(r[0] for r in engine.execute("SELECT id FROM ko_t", ctx).rows)
    assert got == [1, 2]


# ---------------------------------------------------------------------------
# r6 advice batch
# ---------------------------------------------------------------------------

def test_asof_join_null_semantics(engine):
    """Snowflake comparison semantics under the ASOF rewrite (r6
    advice): NULL >= x is NULL -> a left row with a NULL match-
    condition column matches nothing; a right row with a NULL
    timestamp or NULL ON key can never be the match; NULL ON keys do
    not match each other."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE asof_l (k INTEGER, ts INTEGER)", ctx)
    engine.execute(
        "INSERT INTO asof_l VALUES (1, 10), (1, NULL), (NULL, 10)", ctx)
    engine.execute("CREATE TABLE asof_r (k INTEGER, ts INTEGER, v VARCHAR)", ctx)
    engine.execute(
        "INSERT INTO asof_r VALUES (1, 5, 'a'), (1, NULL, 'z'), "
        "(NULL, 5, 'n')", ctx)
    res = engine.execute(
        "SELECT l.k AS lk, l.ts AS lts, r.v AS rv "
        "FROM asof_l l ASOF JOIN asof_r r "
        "MATCH_CONDITION(l.ts >= r.ts) ON l.k = r.k "
        "ORDER BY lk NULLS LAST, lts NULLS LAST", ctx)
    assert _rows(res) == [
        (1, 10, "a"),   # normal backward match
        (1, None, None),  # NULL left ts: no match (not the NULL-ts 'z' row)
        (None, 10, None),  # NULL ON key never equals NULL ON key
    ]


def test_asof_join_null_semantics_forward(engine):
    """Forward direction (<=): Spark DESC sorts NULL last, so without
    the NULLS FIRST pin a NULL-ts left row would steal the final
    right row as its match."""
    ctx = SessionContext()
    engine.execute("CREATE TABLE asof_fl (k INTEGER, ts INTEGER)", ctx)
    engine.execute("INSERT INTO asof_fl VALUES (1, 3), (1, NULL)", ctx)
    engine.execute("CREATE TABLE asof_fr (k INTEGER, ts INTEGER, v VARCHAR)", ctx)
    engine.execute("INSERT INTO asof_fr VALUES (1, 5, 'fwd')", ctx)
    res = engine.execute(
        "SELECT l.ts AS lts, r.v AS rv FROM asof_fl l ASOF JOIN asof_fr r "
        "MATCH_CONDITION(l.ts <= r.ts) ON l.k = r.k "
        "ORDER BY lts NULLS LAST", ctx)
    assert _rows(res) == [(3, "fwd"), (None, None)]
