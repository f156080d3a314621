"""Differential-fuzz expression generator (r5 verdict item 10).

Generates random Snowflake-dialect scalar expressions per translator
function family, each paired with its DuckDB-oracle equivalent; the
runner executes both over the same parquet fixtures and compares
normalized results. This institutionalizes the per-batch manual sweeps
that caught SPLIT's regex-delimiter bug and the reversed 2-arg TRIM in
r5 — every template below is a (snowflake, duckdb) semantic pair, and
randomized arguments probe corners a hand-written golden list misses.

Deterministic: the pytest entry uses a FIXED seed so CI is stable;
``scratch/fuzz_differential.py`` runs open-ended with any seed.

Columns (sf0.001 fixtures): customer(c_custkey BIGINT, c_name VARCHAR,
c_nationkey INT, c_acctbal DOUBLE, c_mktsegment VARCHAR),
orders(o_orderkey, o_orderstatus, o_totalprice, o_orderdate TIMESTAMP,
o_orderpriority).
"""

from __future__ import annotations

import random

# string columns / numeric columns / timestamp column on the ORDERS x
# CUSTOMER probe row set defined by the runner
_STR_COLS = ["c_name", "c_mktsegment", "o_orderpriority", "o_orderstatus"]
_NUM_COLS = ["c_custkey", "c_nationkey", "o_orderkey"]
_FLOAT_COLS = ["c_acctbal", "o_totalprice"]
_TS_COL = "o_orderdate"

# safe literal pools (no regex metacharacters where the template
# treats the literal as a plain string; patterns drawn separately)
_WORDS = ["Customer", "BUILDING", "aa", "0", " x ", "#", "-", "é", ""]
_CHARS = ["a", "e", "0", "#", " ", "C"]
# no bare backslashes here: Snowflake AND Spark process string-literal
# escapes ('\d' collapses to 'd') while DuckDB keeps them — the
# dedicated escaped-digit template below covers that semantic on
# purpose with correctly doubled backslashes on the Snowflake side
_PATTERNS = ["[0-9]+", "[A-Z][a-z]+", "e+", "o.", "[aeiou]", "#[0-9]*"]
_DATE_PARTS = ["year", "quarter", "month", "week", "day", "hour"]

# Each template: (family, snowflake_sql, duckdb_sql, arggen)
# arggen(rng) -> dict of substitutions applied to BOTH sides.


def _n(rng):
    return rng.choice([0, 1, 2, 3, 5, 7, 10, -1, -3])


def _pos(rng):
    return rng.choice([1, 2, 3, 4, 7])


TEMPLATES = [
    # ---- conditional family -------------------------------------------
    ("cond", "IFF({nc} % {m} = 0, '{w}', {sc})",
     "CASE WHEN {nc} % {m} = 0 THEN '{w}' ELSE {sc} END",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([2, 3, 5]),
                "w": r.choice(_WORDS), "sc": r.choice(_STR_COLS)}),
    ("cond", "NVL(NULLIF({sc}, '{w}'), 'fallback')",
     "coalesce(nullif({sc}, '{w}'), 'fallback')",
     lambda r: {"sc": r.choice(_STR_COLS), "w": r.choice(_WORDS)}),
    ("cond", "NVL2(NULLIF({sc}, '{w}'), 'have', 'none')",
     "CASE WHEN nullif({sc}, '{w}') IS NOT NULL THEN 'have' ELSE 'none' END",
     lambda r: {"sc": r.choice(_STR_COLS), "w": r.choice(_WORDS)}),
    ("cond", "ZEROIFNULL(NULLIF({nc} % {m}, 0))",
     "coalesce(nullif({nc} % {m}, 0), 0)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([2, 3, 4])}),
    ("cond", "DECODE({nc} % 3, 0, 'zero', 1, 'one', 'other')",
     "CASE WHEN {nc} % 3 = 0 THEN 'zero' WHEN {nc} % 3 = 1 THEN 'one' "
     "ELSE 'other' END",
     lambda r: {"nc": r.choice(_NUM_COLS)}),
    ("cond", "GREATEST({nc} % 11, {m}, 4)", "greatest({nc} % 11, {m}, 4)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": _n(r)}),
    ("cond", "LEAST({nc} % 11, {m})", "least({nc} % 11, {m})",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": _n(r)}),
    # ---- string family ------------------------------------------------
    ("string", "SUBSTR({sc}, {p}, {ln})", "substr({sc}, {p}, {ln})",
     lambda r: {"sc": r.choice(_STR_COLS), "p": _pos(r), "ln": r.choice([1, 2, 5, 30])}),
    ("string", "LPAD({sc}, {ln}, '{ch}')", "lpad({sc}, {ln}, '{ch}')",
     lambda r: {"sc": r.choice(_STR_COLS), "ln": r.choice([3, 8, 15]),
                "ch": r.choice(["*", "ab", "0"])}),
    ("string", "RPAD({sc}, {ln}, '{ch}')", "rpad({sc}, {ln}, '{ch}')",
     lambda r: {"sc": r.choice(_STR_COLS), "ln": r.choice([3, 8, 15]),
                "ch": r.choice(["*", "ab", "0"])}),
    ("string", "REPEAT('{ch}', CAST({nc} % 4 AS INTEGER))",
     "repeat('{ch}', CAST({nc} % 4 AS INTEGER))",
     lambda r: {"ch": r.choice(_CHARS), "nc": r.choice(_NUM_COLS)}),
    ("string", "REVERSE({sc})", "reverse({sc})",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    # Snowflake INITCAP capitalizes after EVERY non-alphanumeric (not
    # just whitespace — r6 translator rewrite); the oracle replays the
    # per-char rule as a correlated subquery
    ("string", "INITCAP({sc})",
     "(SELECT coalesce(string_agg(CASE WHEN t.i = 1 OR NOT regexp_matches("
     "substr(lower({sc}), CAST(t.i AS INTEGER) - 1, 1), '[a-z0-9]') "
     "THEN upper(substr(lower({sc}), CAST(t.i AS INTEGER), 1)) "
     "ELSE substr(lower({sc}), CAST(t.i AS INTEGER), 1) END, '' "
     "ORDER BY t.i), '') FROM range(1, 65) t(i) "
     "WHERE t.i <= length({sc}))",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("string", "TRANSLATE({sc}, 'aeo', 'AE')",
     "translate({sc}, 'aeo', 'AE')",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("string", "SPLIT_PART({sc}, '{ch}', {p})",
     "split_part({sc}, '{ch}', {p})",
     lambda r: {"sc": r.choice(_STR_COLS), "ch": r.choice(["#", " ", "e"]),
                "p": _pos(r)}),
    ("string", "TRIM({sc}, '{ch}')", "trim({sc}, '{ch}')",
     lambda r: {"sc": r.choice(_STR_COLS), "ch": r.choice(["Ce", "# ", "0"])}),
    ("string", "LTRIM({sc}, '{ch}')", "ltrim({sc}, '{ch}')",
     lambda r: {"sc": r.choice(_STR_COLS), "ch": r.choice(["C", "# ", "0"])}),
    ("string", "RTRIM({sc}, '{ch}')", "rtrim({sc}, '{ch}')",
     lambda r: {"sc": r.choice(_STR_COLS), "ch": r.choice(["e", "# ", "0"])}),
    ("string", "STARTSWITH({sc}, '{w}')", "starts_with({sc}, '{w}')",
     lambda r: {"sc": r.choice(_STR_COLS), "w": r.choice(["C", "BU", ""])}),
    ("string", "ENDSWITH({sc}, '{w}')", "ends_with({sc}, '{w}')",
     lambda r: {"sc": r.choice(_STR_COLS), "w": r.choice(["G", "e", ""])}),
    ("string", "POSITION('{ch}', {sc})", "strpos({sc}, '{ch}')",
     lambda r: {"ch": r.choice(_CHARS), "sc": r.choice(_STR_COLS)}),
    ("string", "LEN(CONCAT({sc}, '{w}'))", "length(concat({sc}, '{w}'))",
     lambda r: {"sc": r.choice(_STR_COLS), "w": r.choice(_WORDS)}),
    ("string", "INSERT({sc}, {p}, {ln}, '{w}')",
     "concat(substr({sc}, 1, {p} - 1), '{w}', substr({sc}, {p} + {ln}))",
     lambda r: {"sc": r.choice(_STR_COLS), "p": _pos(r),
                "ln": r.choice([0, 1, 3]), "w": r.choice(["XX", "-"])}),
    # ---- numeric family ----------------------------------------------
    ("numeric", "ROUND({fc}, {d})", "round({fc}, {d})",
     lambda r: {"fc": r.choice(_FLOAT_COLS), "d": r.choice([0, 1, 2])}),
    ("numeric", "TRUNC({fc})", "trunc({fc})",
     lambda r: {"fc": r.choice(_FLOAT_COLS)}),
    ("numeric", "ABS({nc} - 1000)", "abs({nc} - 1000)",
     lambda r: {"nc": r.choice(_NUM_COLS)}),
    ("numeric", "SIGN({nc} - 1000)", "sign({nc} - 1000)",
     lambda r: {"nc": r.choice(_NUM_COLS)}),
    ("numeric", "MOD({nc}, {m})", "mod({nc}, {m})",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([2, 7, 13])}),
    ("numeric", "ROUND(SQRT(ABS({fc})), 4)", "round(sqrt(abs({fc})), 4)",
     lambda r: {"fc": r.choice(_FLOAT_COLS)}),
    ("numeric", "ROUND(POWER({nc} % 9, {m}), 2)",
     "round(pow({nc} % 9, {m}), 2)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([0, 1, 2, 3])}),
    ("numeric", "FLOOR({fc} / {m})", "floor({fc} / {m})",
     lambda r: {"fc": r.choice(_FLOAT_COLS), "m": r.choice([3, 10, 100])}),
    ("numeric", "CEIL({fc} / {m})", "ceil({fc} / {m})",
     lambda r: {"fc": r.choice(_FLOAT_COLS), "m": r.choice([3, 10, 100])}),
    ("numeric", "DIV0({nc}, {nc2} % {m})",
     "CASE WHEN ({nc2} % {m}) = 0 THEN 0 ELSE {nc} / ({nc2} % {m}) END",
     lambda r: {"nc": r.choice(_NUM_COLS), "nc2": r.choice(_NUM_COLS),
                "m": r.choice([2, 3])}),
    ("numeric", "NULLIFZERO({nc} % {m})", "nullif({nc} % {m}, 0)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([2, 4])}),
    # ---- date family --------------------------------------------------
    # DuckDB date_trunc returns DATE for day-and-above parts where
    # Spark returns TIMESTAMP — cast the oracle side up to align
    ("date", "DATE_TRUNC('{dp}', {ts})",
     "CAST(date_trunc('{dp}', {ts}) AS TIMESTAMP)",
     lambda r: {"dp": r.choice(_DATE_PARTS), "ts": _TS_COL}),
    ("date", "CAST(DATEADD(day, {m}, {ts}) AS DATE)",
     "CAST({ts} + INTERVAL ({m}) DAY AS DATE)",
     lambda r: {"m": _n(r), "ts": _TS_COL}),
    ("date", "CAST(DATEADD(month, {m}, CAST({ts} AS DATE)) AS DATE)",
     "CAST(CAST({ts} AS DATE) + to_months({m}) AS DATE)",
     lambda r: {"m": r.choice([1, 2, 6, 12, -1]), "ts": _TS_COL}),
    ("date", "DATEDIFF(day, CAST({ts} AS DATE), DATE '1998-01-01')",
     "datediff('day', CAST({ts} AS DATE), DATE '1998-01-01')",
     lambda r: {"ts": _TS_COL}),
    ("date", "DATEDIFF(month, CAST({ts} AS DATE), DATE '1998-06-15')",
     "datediff('month', CAST({ts} AS DATE), DATE '1998-06-15')",
     lambda r: {"ts": _TS_COL}),
    ("date", "DATEDIFF(year, CAST({ts} AS DATE), DATE '1999-02-03')",
     "datediff('year', CAST({ts} AS DATE), DATE '1999-02-03')",
     lambda r: {"ts": _TS_COL}),
    ("date", "YEAR({ts}) * 100 + MONTH({ts})",
     "year({ts}) * 100 + month({ts})",
     lambda r: {"ts": _TS_COL}),
    ("date", "DAYOFWEEK({ts})", "dayofweek({ts})",
     lambda r: {"ts": _TS_COL}),
    ("date", "DAYNAME({ts})", "strftime({ts}, '%a')",
     lambda r: {"ts": _TS_COL}),
    ("date", "MONTHNAME({ts})", "strftime({ts}, '%b')",
     lambda r: {"ts": _TS_COL}),
    ("date", "LAST_DAY(CAST({ts} AS DATE))", "last_day(CAST({ts} AS DATE))",
     lambda r: {"ts": _TS_COL}),
    ("date", "CAST(DATE_PART(day, {ts}) AS BIGINT)",
     "CAST(date_part('day', {ts}) AS BIGINT)",
     lambda r: {"ts": _TS_COL}),
    # r8 session-2: epoch/doy parts through DATE_PART and EXTRACT
    ("date", "DATE_PART('epoch_second', {ts})",
     "CAST(epoch({ts}) AS BIGINT)", lambda r: {"ts": _TS_COL}),
    ("date", "DATE_PART(epoch_millisecond, {ts})",
     "epoch_ms({ts})", lambda r: {"ts": _TS_COL}),
    ("date", "EXTRACT(EPOCH FROM {ts})",
     "CAST(epoch({ts}) AS BIGINT)", lambda r: {"ts": _TS_COL}),
    ("date", "CAST(DATE_PART('dayofyear', {ts}) AS BIGINT)",
     "CAST(dayofyear({ts}) AS BIGINT)", lambda r: {"ts": _TS_COL}),
    # r8 s2: Snowflake interval-literal forms (comma multi-part, short
    # units, bare-quantity seconds) vs DuckDB's native interval grammar
    ("date", "{ts} + INTERVAL '{n} {u}'",
     "{ts} + INTERVAL '{n}' {ud}",
     lambda r: (lambda n, pair: {"ts": _TS_COL, "n": n,
                                 "u": pair[0], "ud": pair[1]})(
         r.choice([1, 3, 12, -2]),
         r.choice([("d", "DAY"), ("h", "HOUR"), ("mm", "MONTH"),
                   ("min", "MINUTE"), ("s", "SECOND"), ("wk", "WEEK")]))),
    ("date", "{ts} + INTERVAL '{n} day, {h} hours'",
     "{ts} + INTERVAL '{n}' DAY + INTERVAL '{h}' HOUR",
     lambda r: {"ts": _TS_COL, "n": r.choice([1, 5]),
                "h": r.choice([2, 26])}),
    # r8 session-2: REGEXP_SUBSTR capture-group forms
    ("regexp", "REGEXP_SUBSTR({sc}, '([a-z])([a-z])', 1, {occ}, 'e', {grp})",
     "regexp_extract(regexp_extract_all({sc}, '([a-z])([a-z])')[{occ}], "
     "'([a-z])([a-z])', {grp})",
     lambda r: {"sc": r.choice(_STR_COLS), "occ": r.choice([1, 2]),
                "grp": r.choice([1, 2])}),
    # ---- regexp family ------------------------------------------------
    ("regexp", "REGEXP_COUNT({sc}, '{pat}')",
     "len(regexp_extract_all({sc}, '{pat}'))",
     lambda r: {"sc": r.choice(_STR_COLS), "pat": r.choice(_PATTERNS)}),
    ("regexp", "NVL(REGEXP_SUBSTR({sc}, '{pat}'), '<none>')",
     "coalesce(nullif(regexp_extract({sc}, '{pat}', 0), ''), '<none>')",
     lambda r: {"sc": r.choice(_STR_COLS), "pat": r.choice(_PATTERNS)}),
    ("regexp", "REGEXP_REPLACE({sc}, '{pat}', '_')",
     "regexp_replace({sc}, '{pat}', '_', 'g')",
     lambda r: {"sc": r.choice(_STR_COLS), "pat": r.choice(_PATTERNS)}),
    ("regexp", "IFF(REGEXP_LIKE({sc}, '{pat}.*'), 1, 0)",
     "CASE WHEN regexp_full_match({sc}, '{pat}.*') THEN 1 ELSE 0 END",
     lambda r: {"sc": r.choice(_STR_COLS), "pat": r.choice(_PATTERNS)}),
    # escape semantics: Snowflake/Spark literals need '\\\\d' to reach
    # the regex engine as \d; DuckDB literals pass '\d' through as-is
    ("regexp", "REGEXP_COUNT({sc}, '\\\\d+')",
     "len(regexp_extract_all({sc}, '\\d+'))",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    # ---- textsim family -----------------------------------------------
    # low-similarity pairs on purpose: the Winkler prefix bonus only
    # applies above jaro 0.7 (r6 advice) — short substrings vs unrelated
    # words land on both sides of the threshold
    ("textsim", "JAROWINKLER_SIMILARITY(SUBSTR({sc}, {p}, {ln}), '{w}')",
     "CAST(round(jaro_winkler_similarity(lower(substr({sc}, {p}, {ln})), "
     "lower('{w}')) * 100) AS INTEGER)",
     lambda r: {"sc": r.choice(_STR_COLS), "p": _pos(r),
                "ln": r.choice([1, 2, 3, 5]),
                "w": r.choice(["zz", "qx#", "Customer", "eu", "9", "BUILD"])}),
    ("textsim", "EDITDISTANCE(SUBSTR({sc}, {p}, {ln}), '{w}')",
     "levenshtein(substr({sc}, {p}, {ln}), '{w}')",
     lambda r: {"sc": r.choice(_STR_COLS), "p": _pos(r),
                "ln": r.choice([1, 3, 6]),
                "w": r.choice(["zz", "Custom", "e", ""])}),
    # ---- codec family -------------------------------------------------
    ("codec", "MD5({sc})", "md5({sc})",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("codec", "SHA2({sc}, 256)", "sha256({sc})",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("codec", "BASE64_ENCODE({sc})", "to_base64(CAST({sc} AS BLOB))",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("codec", "HEX_ENCODE({sc})", "upper(hex(CAST({sc} AS BLOB)))",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    # r8 session-2: digest aliases + decode roundtrips (TRY_ variants
    # must be the identity on well-formed encodings of any column)
    ("codec", "SHA2_HEX({sc})", "sha256({sc})",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("codec", "MD5_HEX({sc})", "md5({sc})",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("codec", "TRY_BASE64_DECODE_STRING(BASE64_ENCODE({sc}))", "{sc}",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("codec", "TRY_HEX_DECODE_STRING(HEX_ENCODE({sc}))", "{sc}",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("codec", "CAST(BASE64_DECODE_BINARY(BASE64_ENCODE({sc})) AS STRING)",
     "{sc}", lambda r: {"sc": r.choice(_STR_COLS)}),
    ("codec", "ASCII(SUBSTR({sc}, {p}))", "ascii(substr({sc}, {p}))",
     lambda r: {"sc": r.choice(_STR_COLS), "p": _pos(r)}),
    ("codec", "CHR(CAST({nc} % 26 AS INTEGER) + 65)",
     "chr(CAST({nc} % 26 AS INTEGER) + 65)",
     lambda r: {"nc": r.choice(_NUM_COLS)}),
    ("codec", "LENGTH(SPACE(CAST({nc} % 5 AS INTEGER)))",
     "CAST(length(repeat(' ', CAST({nc} % 5 AS INTEGER))) AS INTEGER)",
     lambda r: {"nc": r.choice(_NUM_COLS)}),
    # ---- lambda family (r8 session-2): higher-order FILTER/TRANSFORM/
    # REDUCE share arrow syntax with Spark; DuckDB replays via list_* —
    # string-serialized so list-vs-array typing stays out of the compare
    ("lambda",
     "ARRAY_TO_STRING(TRANSFORM(ARRAY_CONSTRUCT({nc} % {m}, {p}, 7), "
     "x -> x * {k}), ',')",
     "array_to_string(list_transform([{nc} % {m}, {p}, 7], x -> x * {k}), ',')",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([3, 5, 11]),
                "p": _pos(r), "k": r.choice([2, 3, 10])}),
    ("lambda",
     "ARRAY_TO_STRING(FILTER(ARRAY_CONSTRUCT({nc} % {m}, {p}, 7), "
     "x -> x > {k}), ',')",
     "array_to_string(list_filter([{nc} % {m}, {p}, 7], x -> x > {k}), ',')",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([3, 5, 11]),
                "p": _pos(r), "k": r.choice([0, 2, 4])}),
    # Spark's reduce() requires the merge lambda's return type to match
    # the initial-value type EXACTLY (BIGINT elements + INT 0 raises) —
    # the init is cast to keep the template well-typed over BIGINT cols
    ("lambda",
     "CAST(REDUCE(ARRAY_CONSTRUCT({nc} % {m}, {p}, 7), CAST(0 AS BIGINT), "
     "(acc, x) -> acc + x) AS BIGINT)",
     "CAST({nc} % {m} + {p} + 7 AS BIGINT)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([3, 5, 11]),
                "p": _pos(r)}),
    # ---- window family (r8 verdict item 6): NULL orderings ------------
    # Snowflake ORDER BY defaults (ASC -> NULLS LAST, DESC -> NULLS
    # FIRST) differ from Spark's (ASC -> NULLS FIRST); the Snowflake
    # side leaves the nulls clause OFF so the translator's default
    # injection is what's under test, while the oracle spells the
    # Snowflake semantics explicitly. NULLIF manufactures the NULLs;
    # o_orderkey (unique) tie-breaks wherever per-row output matters.
    ("window",
     "ROW_NUMBER() OVER (PARTITION BY c_nationkey "
     "ORDER BY NULLIF(o_orderkey % {m}, 0) {dir}, o_orderkey)",
     "ROW_NUMBER() OVER (PARTITION BY c_nationkey "
     "ORDER BY NULLIF(o_orderkey % {m}, 0) {dir} NULLS {nulls}, o_orderkey)",
     lambda r: (lambda d: {"m": r.choice([2, 3, 5]), "dir": d,
                           "nulls": "LAST" if d == "ASC" else "FIRST"})(
         r.choice(["ASC", "DESC"]))),
    ("window",
     "RANK() OVER (PARTITION BY c_nationkey "
     "ORDER BY NULLIF(o_orderkey % {m}, 0) {dir})",
     "RANK() OVER (PARTITION BY c_nationkey "
     "ORDER BY NULLIF(o_orderkey % {m}, 0) {dir} NULLS {nulls})",
     lambda r: (lambda d: {"m": r.choice([2, 3, 7]), "dir": d,
                           "nulls": "LAST" if d == "ASC" else "FIRST"})(
         r.choice(["ASC", "DESC"]))),
    ("window",
     "FIRST_VALUE(NULLIF({nc} % {m}, 0)) OVER (PARTITION BY c_nationkey "
     "ORDER BY NULLIF(o_orderkey % {m2}, 0) {dir}, o_orderkey)",
     "FIRST_VALUE(NULLIF({nc} % {m}, 0)) OVER (PARTITION BY c_nationkey "
     "ORDER BY NULLIF(o_orderkey % {m2}, 0) {dir} NULLS {nulls}, o_orderkey)",
     lambda r: (lambda d: {"nc": r.choice(_NUM_COLS), "m": r.choice([2, 3]),
                           "m2": r.choice([2, 5]), "dir": d,
                           "nulls": "LAST" if d == "ASC" else "FIRST"})(
         r.choice(["ASC", "DESC"]))),
    ("window",
     "LAG({sc}, {k}, '<none>') OVER (PARTITION BY c_nationkey ORDER BY o_orderkey)",
     "lag({sc}, {k}, '<none>') OVER (PARTITION BY c_nationkey ORDER BY o_orderkey)",
     lambda r: {"sc": r.choice(_STR_COLS), "k": r.choice([1, 2, 3])}),
    ("window",
     "NVL(LEAD(NULLIF({sc}, '{w}'), {k}) OVER "
     "(PARTITION BY c_nationkey ORDER BY o_orderkey), '<end>')",
     "coalesce(lead(nullif({sc}, '{w}'), {k}) OVER "
     "(PARTITION BY c_nationkey ORDER BY o_orderkey), '<end>')",
     lambda r: {"sc": r.choice(_STR_COLS), "w": r.choice(_WORDS),
                "k": r.choice([1, 2])}),
    ("window",
     "SUM({nc} % {m}) OVER (PARTITION BY c_nationkey ORDER BY o_orderkey "
     "ROWS BETWEEN {k} PRECEDING AND CURRENT ROW)",
     "sum({nc} % {m}) OVER (PARTITION BY c_nationkey ORDER BY o_orderkey "
     "ROWS BETWEEN {k} PRECEDING AND CURRENT ROW)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([5, 11]),
                "k": r.choice([1, 3, 10])}),
    ("window",
     "NTILE({k}) OVER (PARTITION BY c_nationkey ORDER BY o_orderkey)",
     "NTILE({k}) OVER (PARTITION BY c_nationkey ORDER BY o_orderkey)",
     lambda r: {"k": r.choice([2, 3, 4, 7])}),
    ("window",
     "CAST(SUM({nc} % {m}) OVER (PARTITION BY c_nationkey ORDER BY o_orderkey "
     "RANGE BETWEEN {k} PRECEDING AND CURRENT ROW) AS BIGINT)",
     "CAST(SUM({nc} % {m}) OVER (PARTITION BY c_nationkey ORDER BY o_orderkey "
     "RANGE BETWEEN {k} PRECEDING AND CURRENT ROW) AS BIGINT)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([5, 9]),
                "k": r.choice([10, 100, 1000])}),
    ("window",
     "CAST(COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY o_orderkey "
     "RANGE BETWEEN CURRENT ROW AND {k} FOLLOWING) AS BIGINT)",
     "CAST(COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY o_orderkey "
     "RANGE BETWEEN CURRENT ROW AND {k} FOLLOWING) AS BIGINT)",
     lambda r: {"k": r.choice([5, 50, 500])}),
]

# ---- aggregate family (r8): Snowflake-dialect aggregates through the
# translator over a GROUP BY c_nationkey probe — DISTINCT, conditional
# aggregation, MEDIAN, sample stats, MIN_BY/MAX_BY. Each template is
# one aggregate expression; the probe supplies the grouping.
TEMPLATES_AGG = [
    ("agg", "CAST(SUM(DISTINCT {nc} % {m}) AS BIGINT)",
     "CAST(SUM(DISTINCT {nc} % {m}) AS BIGINT)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([3, 7, 11])}),
    ("agg", "COUNT_IF({nc} % {m} = 0)",
     "CAST(count(*) FILTER (WHERE {nc} % {m} = 0) AS BIGINT)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([2, 3, 5])}),
    ("agg", "ROUND(AVG(NULLIF({nc} % {m}, 0)), 6)",
     "round(AVG(NULLIF({nc} % {m}, 0)), 6)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([4, 9])}),
    ("agg", "CAST(MEDIAN({nc} % {m}) AS DOUBLE)",
     "CAST(MEDIAN({nc} % {m}) AS DOUBLE)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([5, 13])}),
    ("agg", "ROUND(STDDEV_SAMP({fc}), 4)", "round(stddev_samp({fc}), 4)",
     lambda r: {"fc": r.choice(_FLOAT_COLS)}),
    ("agg", "ROUND(VAR_POP({fc} / 100), 4)", "round(var_pop({fc} / 100), 4)",
     lambda r: {"fc": r.choice(_FLOAT_COLS)}),
    # BY key must be UNIQUE (o_orderkey) — under key ties the chosen
    # value is engine-arbitrary, which is nondeterminism, not a bug
    ("agg", "MIN_BY({sc}, o_orderkey)", "min_by({sc}, o_orderkey)",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("agg", "MAX_BY({sc}, o_orderkey)", "max_by({sc}, o_orderkey)",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("agg", "CAST(COUNT(DISTINCT {sc}) AS BIGINT)",
     "CAST(COUNT(DISTINCT {sc}) AS BIGINT)",
     lambda r: {"sc": r.choice(_STR_COLS)}),
    ("agg", "BOOLOR_AGG({nc} % {m} = 0)", "bool_or({nc} % {m} = 0)",
     lambda r: {"nc": r.choice(_NUM_COLS), "m": r.choice([2, 7])}),
    ("agg", "BOOLAND_AGG({nc} >= 0)", "bool_and({nc} >= 0)",
     lambda r: {"nc": r.choice(_NUM_COLS)}),
    ("agg",
     "LISTAGG(DISTINCT {sc2}, '|') WITHIN GROUP (ORDER BY {sc2})",
     "string_agg(DISTINCT {sc2}, '|' ORDER BY {sc2})",
     lambda r: {"sc2": r.choice(["c_mktsegment", "o_orderstatus",
                                 "o_orderpriority"])}),
    ("agg",
     "ROUND(PERCENTILE_CONT({p}) WITHIN GROUP (ORDER BY {fc}), 3)",
     "round(percentile_cont({p}) WITHIN GROUP (ORDER BY {fc}), 3)",
     lambda r: {"p": r.choice(["0.1", "0.25", "0.5", "0.9"]),
                "fc": r.choice(_FLOAT_COLS)}),
    ("agg",
     "ROUND(PERCENTILE_DISC({p}) WITHIN GROUP (ORDER BY {fc}), 3)",
     "round(percentile_disc({p}) WITHIN GROUP (ORDER BY {fc}), 3)",
     lambda r: {"p": r.choice(["0.25", "0.5", "0.75"]),
                "fc": r.choice(_FLOAT_COLS)}),
    # r8 session-2: linear-regression aggregate family (ANSI shared
    # names across all three engines; ROUND absorbs summation ulps)
    ("agg", "ROUND(CORR({fc}, {nc} % {m}), 5)",
     "round(corr({fc}, {nc} % {m}), 5)",
     lambda r: {"fc": r.choice(_FLOAT_COLS), "nc": r.choice(_NUM_COLS),
                "m": r.choice([7, 13])}),
    ("agg", "ROUND(COVAR_POP({fc}, {nc} % {m}), 4)",
     "round(covar_pop({fc}, {nc} % {m}), 4)",
     lambda r: {"fc": r.choice(_FLOAT_COLS), "nc": r.choice(_NUM_COLS),
                "m": r.choice([5, 9])}),
    ("agg", "ROUND(COVAR_SAMP({fc}, {nc} % {m}), 4)",
     "round(covar_samp({fc}, {nc} % {m}), 4)",
     lambda r: {"fc": r.choice(_FLOAT_COLS), "nc": r.choice(_NUM_COLS),
                "m": r.choice([5, 9])}),
    ("agg", "ROUND(REGR_SLOPE({fc}, {nc} % {m}), 4)",
     "round(regr_slope({fc}, {nc} % {m}), 4)",
     lambda r: {"fc": r.choice(_FLOAT_COLS), "nc": r.choice(_NUM_COLS),
                "m": r.choice([7, 11])}),
    ("agg", "ROUND(REGR_INTERCEPT({fc}, {nc} % {m}), 4)",
     "round(regr_intercept({fc}, {nc} % {m}), 4)",
     lambda r: {"fc": r.choice(_FLOAT_COLS), "nc": r.choice(_NUM_COLS),
                "m": r.choice([7, 11])}),
    ("agg", "REGR_COUNT({fc}, {nc})", "regr_count({fc}, {nc})",
     lambda r: {"fc": r.choice(_FLOAT_COLS), "nc": r.choice(_NUM_COLS)}),
    ("agg", "ROUND(REGR_AVGX({fc}, {nc} % {m}), 4)",
     "round(regr_avgx({fc}, {nc} % {m}), 4)",
     lambda r: {"fc": r.choice(_FLOAT_COLS), "nc": r.choice(_NUM_COLS),
                "m": r.choice([5, 13])}),
]

# aggregate-family probe: grouped on nation, deterministic group order
PROBE_AGG_SQL = (
    "SELECT c_nationkey "
    "FROM customer JOIN orders ON o_custkey = c_custkey "
    "WHERE o_orderkey <= 2000 "
    "GROUP BY c_nationkey "
)


# ---- datefmt family (r8): TO_CHAR/TO_VARCHAR format pictures through
# convert_snowflake_datefmt vs DuckDB strftime. Each case composes 2-3
# random (Snowflake picture, strftime) fragments with a separator.
_FMT_PAIRS = [
    ("YYYY", "%Y"), ("YY", "%y"), ("MM", "%m"), ("MON", "%b"),
    ("DD", "%d"), ("DY", "%a"), ("HH24", "%H"), ("MI", "%M"),
    ("SS", "%S"),
]


def _datefmt_args(r):
    frags = r.sample(_FMT_PAIRS, r.choice([2, 3]))
    sep = r.choice(["-", "/", " ", ":"])
    return {"snowfmt": sep.join(s for s, _d in frags),
            "duckfmt": sep.join(d for _s, d in frags)}


TEMPLATES_DATEFMT = [
    ("datefmt", "TO_CHAR({ts}, '{snowfmt}')",
     "strftime({ts}, '{duckfmt}')",
     lambda r: {**_datefmt_args(r), "ts": _TS_COL}),
    ("datefmt", "TO_VARCHAR(CAST({ts} AS DATE), '{snowfmt}')",
     "strftime(CAST({ts} AS DATE), '{duckfmt}')",
     lambda r: {**_datefmt_args(r), "ts": _TS_COL}),
    ("datefmt", "TO_DATE(TO_CHAR({ts}, 'YYYY-MM-DD'))",
     "CAST({ts} AS DATE)",
     lambda r: {"ts": _TS_COL}),
    ("datefmt", "TO_TIMESTAMP(TO_CHAR({ts}, 'YYYY-MM-DD HH24:MI:SS'))",
     "date_trunc('second', {ts})",
     lambda r: {"ts": _TS_COL}),
]


# ---- variant family (r8 verdict item 6): JSON path access over the
# events.props column ('{"k": N}' — the missing-key probes exercise the
# NULL path). Runs on its own probe row set (PROBE_EVENTS_SQL).
TEMPLATES_EVENTS = [
    ("variant", "props:k::NUMBER(18,0) % {m}",
     "CAST(json_extract_string(props, '$.k') AS DECIMAL(18,0)) % {m}",
     lambda r: {"m": r.choice([2, 3, 7, 10])}),
    ("variant", "ROUND(props:k::DOUBLE / {m}, 4)",
     "round(CAST(json_extract_string(props, '$.k') AS DOUBLE) / {m}, 4)",
     lambda r: {"m": r.choice([3, 7, 10])}),
    ("variant", "props:k::STRING",
     "json_extract_string(props, '$.k')", lambda r: {}),
    ("variant", "props:{miss}::STRING",
     "json_extract_string(props, '$.{miss}')",
     lambda r: {"miss": r.choice(["missing", "q", "z9"])}),
    ("variant", "GET_PATH(PARSE_JSON(props), 'k')::STRING",
     "json_extract_string(props, '$.k')", lambda r: {}),
    ("variant", "NVL(props:{miss}::STRING, '<absent>')",
     "coalesce(json_extract_string(props, '$.{miss}'), '<absent>')",
     lambda r: {"miss": r.choice(["missing", "nope"])}),
    ("variant", "IFF(props:k::NUMBER(18,0) > {m}, 'hi', 'lo')",
     "CASE WHEN CAST(json_extract_string(props, '$.k') AS DECIMAL(18,0)) "
     "> {m} THEN 'hi' ELSE 'lo' END",
     lambda r: {"m": r.choice([10, 50, 90])}),
]


def generate(seed: int, count: int,
             templates: list | None = None) -> list[tuple[str, str, str]]:
    """Return ``count`` randomized (family, snow_expr, duck_expr)
    triples, deterministic for a given seed."""
    rng = random.Random(seed)
    pool = TEMPLATES if templates is None else templates
    out = []
    for _ in range(count):
        family, snow_t, duck_t, arggen = rng.choice(pool)
        args = arggen(rng)
        out.append((family, snow_t.format(**args), duck_t.format(**args)))
    return out


# ---------------------------------------------------------------------------
# ASOF-join fuzz (r8 verdict item 6): randomized direction / ON keys /
# NULL-injection configs for the translator's ASOF rewrite, against
# DuckDB's NATIVE ASOF LEFT JOIN. DuckDB's sort-based ASOF matches a
# NULL probe timestamp to the extreme right row (verified r8), which
# diverges from Snowflake's NULL-never-matches comparison semantics —
# so NULL-ts left rows bypass the oracle join explicitly. The matched
# TIMESTAMP (not event_id) is projected so right-side ts ties stay
# deterministic.
# ---------------------------------------------------------------------------

def generate_asof_cases(seed: int, count: int) -> list[tuple[str, str, str]]:
    """Return (description, snowflake_sql, duckdb_sql) full-query
    triples; compare row-sets sorted."""
    rng = random.Random(seed)
    out = []
    for _ in range(count):
        op = rng.choice([">=", ">", "<=", "<"])
        keyed = rng.choice([True, False])
        lmod = rng.choice([0, 5, 7])      # 0 = no NULL injection
        rmod = rng.choice([0, 9, 11])
        kmod = rng.choice([0, 4]) if keyed else 0
        ltype = rng.choice(["purchase", "click"])
        rtype = rng.choice(["view", "error"])
        umax = rng.choice([15, 30])

        def null_ts(mod):
            return f"IFF(event_id % {mod} = 0, NULL, ts)" if mod else "ts"

        def null_ts_duck(mod):
            return (f"CASE WHEN event_id % {mod} = 0 THEN NULL ELSE ts END"
                    if mod else "ts")

        ukey = (f"IFF(event_id % {kmod} = 0, NULL, user_id)"
                if kmod else "user_id")
        ukey_duck = (f"CASE WHEN event_id % {kmod} = 0 THEN NULL "
                     f"ELSE user_id END" if kmod else "user_id")
        on_snow = "ON l.user_id = r.user_id " if keyed else ""
        on_duck = ("l.user_id = r.user_id AND " if keyed else "")
        snow = f"""
WITH lv AS (
  SELECT event_id, user_id, {null_ts(lmod)} AS ts
  FROM events WHERE event_type = '{ltype}' AND user_id <= {umax}
), rv AS (
  SELECT event_id, {ukey} AS user_id, {null_ts(rmod)} AS ts
  FROM events WHERE event_type = '{rtype}' AND user_id <= {umax}
)
SELECT l.event_id, l.user_id, r.ts AS matched_ts
FROM lv l ASOF JOIN rv r
MATCH_CONDITION (l.ts {op} r.ts)
{on_snow}ORDER BY l.event_id
"""
        duck = f"""
WITH lv AS (
  SELECT event_id, user_id, {null_ts_duck(lmod)} AS ts
  FROM events WHERE event_type = '{ltype}' AND user_id <= {umax}
), rv AS (
  SELECT event_id, {ukey_duck} AS user_id, {null_ts_duck(rmod)} AS ts
  FROM events WHERE event_type = '{rtype}' AND user_id <= {umax}
)
SELECT l.event_id, l.user_id, r.ts AS matched_ts
FROM (SELECT * FROM lv WHERE ts IS NOT NULL) l ASOF LEFT JOIN rv r
ON {on_duck}l.ts {op} r.ts
UNION ALL
SELECT event_id, user_id, CAST(NULL AS TIMESTAMP) AS matched_ts
FROM lv WHERE ts IS NULL
ORDER BY event_id
"""
        desc = (f"asof op={op} keyed={keyed} lmod={lmod} rmod={rmod} "
                f"kmod={kmod} {ltype}->{rtype} umax={umax}")
        out.append((desc, snow, duck))
    return out


# The probe row set: a deterministic 40-row join sample spanning NULLs
# is unnecessary — fixture columns are non-null; corner values come
# from NULLIF inside templates. One scan, tiny.
PROBE_SQL = (
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
    "o_orderkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
    "FROM customer JOIN orders ON o_custkey = c_custkey "
    "WHERE o_orderkey <= 160 "
)

# variant-family probe: events carries the JSON props column
PROBE_EVENTS_SQL = (
    "SELECT event_id, user_id, event_type, props, ts "
    "FROM events WHERE event_id <= 200 "
)


def _values_equal(a, b) -> bool:
    """Exact compare, except floats get a tight relative tolerance:
    a ROUND(expr, 4) whose pre-round value straddles a half-ulp boundary
    legitimately differs in the 4th decimal between engines (seen on
    REGR_SLOPE: -6500.1563 vs -6500.1562, 1.5e-8 relative). Semantic
    bugs show up orders of magnitude above 1e-6 relative."""
    if isinstance(a, float) and isinstance(b, float):
        import math

        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def run_probe_cases(spark, con, translate, cases, probe_sql, order_col,
                    batch: int = 20) -> list[str]:
    """Execute (family, snow_expr, duck_expr) cases batched into one
    SELECT per engine per chunk over ``probe_sql``; return mismatch
    descriptions (empty = clean)."""
    failures = []
    for i in range(0, len(cases), batch):
        chunk = cases[i:i + batch]
        snow_sql = probe_sql.replace(
            "SELECT ", "SELECT " + ", ".join(
                f"{s} AS fz_{j}" for j, (_f, s, _d) in enumerate(chunk))
            + ", ", 1)
        duck_sql = probe_sql.replace(
            "SELECT ", "SELECT " + ", ".join(
                f"{d} AS fz_{j}" for j, (_f, _s, d) in enumerate(chunk))
            + ", ", 1)
        order = f" ORDER BY {order_col}"
        try:
            srows = [tuple(normalize(v) for v in r)
                     for r in spark.sql(translate(snow_sql + order)).collect()]
            drows = [tuple(normalize(v) for v in r)
                     for r in con.sql(duck_sql + order).fetchall()]
        except Exception as e:  # noqa: BLE001
            failures.append(f"batch {i // batch} ERROR: {e}")
            continue
        if len(srows) != len(drows):
            failures.append(
                f"batch {i // batch}: row count {len(srows)} != {len(drows)}")
            continue
        for si, di in zip(srows, drows):
            for j in range(len(chunk)):
                if not _values_equal(si[j], di[j]):
                    fam, s, d = chunk[j]
                    failures.append(
                        f"[{fam}] {s!r}: spark={si[j]!r} duck={di[j]!r}")
                    break
    return failures


def generate_nullsem_cases(seed: int, count: int) -> list[tuple[str, str, str]]:
    """NULL-semantics full-query family (r8): NOT IN with NULLs in the
    subquery (three-valued logic empties the result), set operations
    where NULLs compare EQUAL (INTERSECT/EXCEPT), GROUP BY collapsing
    NULL keys, and anti-join NULL keys. Snowflake, Spark and DuckDB all
    follow ANSI here, so both engines run the same shape — the fuzz
    guards the translator passthrough and the engines' agreement."""
    rng = random.Random(seed)
    shapes = [
        ("nullsem-notin",
         "SELECT c_custkey FROM customer WHERE c_custkey <= {k} AND "
         "c_custkey NOT IN (SELECT NULLIF(o_custkey, {v}) FROM orders "
         "WHERE o_orderkey <= {j}) ORDER BY c_custkey",
         lambda r: {"k": r.choice([50, 200]), "v": r.choice([0, 7, 13]),
                    "j": r.choice([40, 400])}),
        ("nullsem-in",
         "SELECT count(*) AS n FROM customer WHERE "
         "NULLIF(c_nationkey, {v}) IN (SELECT NULLIF(o_custkey % 25, {w}) "
         "FROM orders WHERE o_orderkey <= {j})",
         lambda r: {"v": r.choice([3, 9]), "w": r.choice([5, 11]),
                    "j": r.choice([80, 800])}),
        ("nullsem-intersect",
         "SELECT NULLIF(c_nationkey, {v}) AS k FROM customer "
         "INTERSECT SELECT NULLIF(c_nationkey, {w}) FROM customer "
         "ORDER BY k",
         lambda r: {"v": r.choice([2, 8, 14]), "w": r.choice([2, 5, 20])}),
        ("nullsem-except",
         "SELECT NULLIF(c_nationkey % {m}, {v}) AS k FROM customer "
         "EXCEPT SELECT NULLIF(c_nationkey % {m}, {w}) FROM customer "
         "ORDER BY k",
         lambda r: {"m": r.choice([5, 9]), "v": r.choice([0, 2]),
                    "w": r.choice([1, 3])}),
        ("nullsem-groupby",
         "SELECT NULLIF(c_nationkey % {m}, {v}) AS k, "
         "CAST(count(*) AS BIGINT) AS n, "
         "CAST(count(NULLIF(c_custkey % {m2}, 0)) AS BIGINT) AS nn "
         "FROM customer GROUP BY 1 ORDER BY 1",
         lambda r: {"m": r.choice([4, 7]), "v": r.choice([0, 1, 3]),
                    "m2": r.choice([2, 3])}),
        ("nullsem-antijoin",
         "SELECT count(*) AS n FROM customer c WHERE NOT EXISTS ("
         "SELECT 1 FROM orders o WHERE NULLIF(o.o_custkey, {v}) = "
         "c.c_custkey AND o.o_orderkey <= {j})",
         lambda r: {"v": r.choice([1, 10, 25]), "j": r.choice([100, 1000])}),
    ]
    out = []
    for _ in range(count):
        fam, tmpl, arggen = rng.choice(shapes)
        args = arggen(rng)
        sql = tmpl.format(**args)
        out.append((f"{fam} {args}", sql, sql))
    return out


def generate_join_cases(seed: int, count: int) -> list[tuple[str, str, str]]:
    """Join-type fuzz (r8): INNER/LEFT/RIGHT/FULL equi-joins plus
    semi/anti shapes over NULL-injected keys — NULL keys never match
    in any join type; outer sides fill with NULLs. Same ANSI SQL on
    both engines (translator passthrough + engine agreement)."""
    rng = random.Random(seed)
    out = []
    jtypes = ["INNER JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN"]
    for _ in range(count):
        jt = rng.choice(jtypes)
        v = rng.choice([0, 5, 9])       # customer-side NULL injection
        w = rng.choice([0, 3, 7])       # orders-side NULL injection
        k = rng.choice([200, 1000])
        shape = rng.choice(["plain", "agg", "semi", "anti"])
        ckey = (f"NULLIF(c_custkey % 50, {v})" if v else "c_custkey % 50")
        okey = (f"NULLIF(o_custkey % 50, {w})" if w else "o_custkey % 50")
        if shape == "plain":
            sql = (
                f"SELECT c.c_custkey, CAST(o.o_orderkey AS BIGINT) AS ok "
                f"FROM (SELECT c_custkey, {ckey} AS jk FROM customer "
                f"WHERE c_custkey <= 40) c "
                f"{jt} (SELECT o_orderkey, o_custkey, {okey} AS jk "
                f"FROM orders WHERE o_orderkey <= {k}) o "
                f"ON c.jk = o.jk ORDER BY 1, 2")
        elif shape == "agg":
            sql = (
                f"SELECT c.jk AS k, CAST(count(o.o_orderkey) AS BIGINT) AS n "
                f"FROM (SELECT {ckey} AS jk FROM customer "
                f"WHERE c_custkey <= 60) c "
                f"{jt} (SELECT o_orderkey, {okey} AS jk FROM orders "
                f"WHERE o_orderkey <= {k}) o "
                f"ON c.jk = o.jk GROUP BY 1 ORDER BY 1")
        elif shape == "semi":
            sql = (
                f"SELECT count(*) AS n FROM customer c WHERE {ckey} IN "
                f"(SELECT {okey} FROM orders WHERE o_orderkey <= {k})")
        else:
            sql = (
                f"SELECT count(*) AS n FROM customer c WHERE NOT EXISTS "
                f"(SELECT 1 FROM orders o WHERE {okey} = {ckey} "
                f"AND o.o_orderkey <= {k})")
        out.append((f"join {jt} v={v} w={w} k={k} {shape}", sql, sql))
    return out


def generate_mr_cases(seed: int, count: int) -> list[tuple[str, str, str]]:
    """SQL-level MATCH_RECOGNIZE configs (r8 s2): randomized pattern ×
    user-range funnels over events, replayed in DuckDB as
    string_agg + regexp_extract_all (identical non-overlapping
    leftmost-match semantics)."""
    rng = random.Random(seed)
    pats = ["V C+ P", "V P", "C{2}", "V C* P", "V+ P", "(V|C) P"]
    out = []
    for _ in range(count):
        pat = rng.choice(pats)
        rx = pat.replace(" ", "")
        umax = rng.choice([20, 50])
        snow = f"""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(SUM(n) AS BIGINT) AS n_rows_tot
FROM (
  SELECT user_id, n FROM events MATCH_RECOGNIZE (
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES COUNT(*) AS n
    ONE ROW PER MATCH
    PATTERN ({pat})
    DEFINE V AS event_type = 'view', C AS event_type = 'click',
           P AS event_type = 'purchase'
  )
) WHERE user_id <= {umax} GROUP BY user_id ORDER BY user_id"""
        duck = f"""
WITH symd AS (
  SELECT user_id, ts, event_id,
         CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                         WHEN 'purchase' THEN 'P' ELSE '.' END AS c
  FROM events),
s AS (SELECT user_id, string_agg(c, '' ORDER BY ts, event_id) AS seq
      FROM symd GROUP BY user_id),
m AS (SELECT user_id, regexp_extract_all(seq, '{rx}') AS ms FROM s)
SELECT user_id, CAST(len(ms) AS BIGINT) AS n_matches,
       CAST(list_sum(list_transform(ms, x -> len(x))) AS BIGINT) AS n_rows_tot
FROM m WHERE len(ms) > 0 AND user_id <= {umax} ORDER BY user_id"""
        out.append((f"mr[{pat} u<={umax}]", snow, duck))
    return out


def generate_script_cases(seed: int, count: int) -> list[tuple[str, str, int]]:
    """Generative Snowflake-Scripting cases (r8 s2): random small
    control-flow scripts (FOR ranges, nested grids, IF filters,
    CONTINUE, WHILE counters, labeled BREAK) whose integer result is
    computed independently in Python — a differential gate for the
    scripting engine itself, not just the SQL it embeds."""
    rng = random.Random(seed)
    out = []
    for _ in range(count):
        kind = rng.choice(["for_sum", "for_if", "nested", "while",
                           "continue", "labeled_break", "query_for"])
        if kind == "for_sum":
            a, b, k = rng.randint(0, 3), rng.randint(4, 9), rng.randint(1, 5)
            script = (f"DECLARE t INTEGER DEFAULT 0; BEGIN "
                      f"FOR i IN {a} TO {b} DO LET t := t + i * {k}; END FOR; "
                      f"RETURN t; END")
            expect = sum(i * k for i in range(a, b + 1))
        elif kind == "for_if":
            a, b, m = 0, rng.randint(6, 12), rng.choice([2, 3])
            script = (f"DECLARE t INTEGER DEFAULT 0; BEGIN "
                      f"FOR i IN {a} TO {b} DO "
                      f"IF (i % {m} = 0) THEN LET t := t + i; END IF; "
                      f"END FOR; RETURN t; END")
            expect = sum(i for i in range(a, b + 1) if i % m == 0)
        elif kind == "nested":
            n1, n2 = rng.randint(2, 4), rng.randint(2, 4)
            script = (f"DECLARE t INTEGER DEFAULT 0; BEGIN "
                      f"FOR i IN 1 TO {n1} DO FOR j IN 1 TO {n2} DO "
                      f"LET t := t + i * j; END FOR; END FOR; RETURN t; END")
            expect = sum(i * j for i in range(1, n1 + 1)
                         for j in range(1, n2 + 1))
        elif kind == "while":
            lim, step = rng.randint(5, 20), rng.choice([2, 3, 5])
            script = (f"DECLARE t INTEGER DEFAULT 0; c INTEGER DEFAULT 0; BEGIN "
                      f"WHILE (c < {lim}) DO LET c := c + {step}; "
                      f"LET t := t + c; END WHILE; RETURN t; END")
            expect, c = 0, 0
            while c < lim:
                c += step
                expect += c
        elif kind == "continue":
            b, m = rng.randint(5, 10), rng.choice([2, 3])
            script = (f"DECLARE t INTEGER DEFAULT 0; BEGIN "
                      f"FOR i IN 1 TO {b} DO "
                      f"IF (i % {m} = 0) THEN CONTINUE; END IF; "
                      f"LET t := t + i; END FOR; RETURN t; END")
            expect = sum(i for i in range(1, b + 1) if i % m != 0)
        elif kind == "query_for":
            # r10: inline-query FOR loop — sum a computed column
            n, k = rng.randint(3, 8), rng.randint(1, 5)
            script = (f"DECLARE t INTEGER DEFAULT 0; BEGIN "
                      f"FOR rec IN (SELECT id, id * {k} AS d "
                      f"FROM range({n})) DO "
                      f"LET t := t + rec.d; END FOR; RETURN t; END")
            expect = sum(i * k for i in range(n))
        else:  # labeled_break from the inner loop out of BOTH loops
            n, stop = rng.randint(3, 5), rng.randint(2, 3)
            script = (f"DECLARE t INTEGER DEFAULT 0; BEGIN "
                      f"outer_l: FOR i IN 1 TO {n} DO FOR j IN 1 TO {n} DO "
                      f"IF (i = {stop} AND j = {stop}) THEN BREAK outer_l; END IF; "
                      f"LET t := t + 1; END FOR; END FOR; RETURN t; END")
            expect, done = 0, False
            for i in range(1, n + 1):
                for j in range(1, n + 1):
                    if i == stop and j == stop:
                        done = True
                        break
                    expect += 1
                if done:
                    break
        out.append((f"script[{kind}]", script, expect))
    return out


def run_script_cases(engine, cases) -> list[str]:
    """Execute scripting cases via EXECUTE IMMEDIATE and compare the
    RETURN value to the Python-computed expectation."""
    from snowflake_emulator_spark.executor import SessionContext

    failures = []
    for desc, script, expect in cases:
        try:
            res = engine.execute(f"EXECUTE IMMEDIATE $$ {script} $$",
                                 SessionContext())
            got = res.rows[0][0]
        except Exception as e:  # noqa: BLE001
            failures.append(f"{desc} ERROR: {e}")
            continue
        if str(got) != str(expect):
            failures.append(f"{desc}: got {got!r} expected {expect!r} "
                            f"[{script[:90]}]")
    return failures


def run_mr_cases(executor, con, cases) -> list[str]:
    """Execute MATCH_RECOGNIZE full-query cases through the EXECUTOR
    (the clause parses above the translator) vs the DuckDB replay."""
    from snowflake_emulator_spark.executor import SessionContext

    failures = []
    for desc, snow, duck in cases:
        try:
            srows = sorted((tuple(normalize(v) for v in r)
                            for r in executor.query_df(
                                snow, SessionContext()).collect()), key=repr)
            drows = sorted((tuple(normalize(v) for v in r)
                            for r in con.sql(duck).fetchall()), key=repr)
        except Exception as e:  # noqa: BLE001
            failures.append(f"{desc} ERROR: {e}")
            continue
        if srows != drows:
            diff = [(a, b) for a, b in zip(srows, drows) if a != b][:3]
            failures.append(
                f"{desc}: {len(srows)} vs {len(drows)} rows, first diffs {diff}")
    return failures


def run_asof_cases(spark, con, translate, cases) -> list[str]:
    """Execute full-query ASOF cases; compare sorted row sets."""
    failures = []
    for desc, snow, duck in cases:
        try:
            # repr-keyed sort: total order even across None/mixed types
            srows = sorted((tuple(normalize(v) for v in r)
                            for r in spark.sql(translate(snow)).collect()),
                           key=repr)
            drows = sorted((tuple(normalize(v) for v in r)
                            for r in con.sql(duck).fetchall()), key=repr)
        except Exception as e:  # noqa: BLE001
            failures.append(f"{desc} ERROR: {e}")
            continue
        if srows != drows:
            diff = [(a, b) for a, b in zip(srows, drows) if a != b][:3]
            failures.append(
                f"{desc}: {len(srows)} vs {len(drows)} rows, first diffs {diff}")
    return failures


def normalize(v):
    """Engine-neutral value form: floats rounded (libm ulps), datetimes
    ISO-stringified, ints widened."""
    import datetime
    import decimal
    import math

    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


# ---------------------------------------------------------------------
# DML differential family (r10, VERDICT r9 item 4): random MERGE
# statements executed by the engine vs an INDEPENDENT pure-Python
# implementation of Snowflake MERGE semantics (DuckDB 1.0.0 has no
# native MERGE), plus random UPDATE/DELETE (simple + FROM/USING forms)
# vs DuckDB natively. Compares FINAL TABLE STATES and the engine's
# inserted/updated/deleted counters, including strict
# ERROR_ON_NONDETERMINISTIC_MERGE error-vs-rollback behavior.
# Pattern precedent: the r8 generative scripting family (Python-computed
# expectations) found 3 real bugs.

_DML_W_POOL = ["a", "b", "c", "x", None]


def _dml_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v + "'"
    return str(v)


def _cmp3(a, op, b) -> bool:
    """SQL three-valued comparison reduced to clause satisfaction:
    NULL on either side -> unknown -> clause NOT satisfied."""
    if a is None or b is None:
        return False
    return {"=": a == b, "<>": a != b, ">": a > b,
            ">=": a >= b, "<": a < b, "<=": a <= b}[op]


def _rand_rows(rng, ids):
    return [
        {
            "id": i,
            "v": None if rng.random() < 0.10 else rng.randint(0, 20),
            "w": rng.choice(_DML_W_POOL),
        }
        for i in ids
    ]


def _matched_cond(rng):
    """(sql_or_None, fn(t_row, s_row) -> bool) for WHEN MATCHED AND."""
    c = rng.randint(2, 15)
    pool = [
        (None, lambda t, s: True),
        ("s.v > t.v", lambda t, s: _cmp3(s["v"], ">", t["v"])),
        ("s.v % 2 = 0",
         lambda t, s: s["v"] is not None and s["v"] % 2 == 0),
        (f"t.v < {c}", lambda t, s: _cmp3(t["v"], "<", c)),
        ("s.w = 'a'", lambda t, s: _cmp3(s["w"], "=", "a")),
        ("t.w <> s.w", lambda t, s: _cmp3(t["w"], "<>", s["w"])),
        (f"s.v + t.v > {c}",
         lambda t, s: s["v"] is not None and t["v"] is not None
         and s["v"] + t["v"] > c),
    ]
    return rng.choice(pool)


def _update_sets(rng):
    """1-2 SET clauses: {col: (sql_expr, fn(t_row, s_row) -> value)}."""
    k = rng.randint(1, 9)
    v_pool = [
        ("s.v", lambda t, s: s["v"]),
        (f"s.v + {k}",
         lambda t, s: None if s["v"] is None else s["v"] + k),
        ("t.v + s.v",
         lambda t, s: None if (t["v"] is None or s["v"] is None)
         else t["v"] + s["v"]),
        ("t.v * 2", lambda t, s: None if t["v"] is None else t["v"] * 2),
    ]
    w_pool = [
        ("s.w", lambda t, s: s["w"]),
        ("'upd'", lambda t, s: "upd"),
        ("CONCAT(t.w, s.w)",
         lambda t, s: None if (t["w"] is None or s["w"] is None)
         else t["w"] + s["w"]),
    ]
    sets = {}
    which = rng.choice(["v", "w", "vw"])
    if "v" in which:
        sets["V"] = rng.choice(v_pool)
    if "w" in which:
        sets["W"] = rng.choice(w_pool)
    return sets


def _not_matched_cond(rng):
    c = rng.randint(2, 15)
    pool = [
        (None, lambda s: True),
        (f"s.v > {c}", lambda s: _cmp3(s["v"], ">", c)),
        ("s.w = 'b'", lambda s: _cmp3(s["w"], "=", "b")),
        ("s.v % 2 = 1",
         lambda s: s["v"] is not None and s["v"] % 2 == 1),
    ]
    return rng.choice(pool)


def _insert_clause(rng):
    """(sql_tail, fn(s_row) -> (id, v, w) inserted values)."""
    pool = [
        ("(ID, V, W) VALUES (s.id, s.v, s.w)",
         lambda s: (s["id"], s["v"], s["w"])),
        ("(ID, V, W) VALUES (s.id, s.v * 2, 'new')",
         lambda s: (s["id"], None if s["v"] is None else s["v"] * 2, "new")),
        ("(ID, V) VALUES (s.id, s.v)", lambda s: (s["id"], s["v"], None)),
        ("(ID, W, V) VALUES (s.id, s.w, 0)",
         lambda s: (s["id"], 0, s["w"])),
    ]
    return rng.choice(pool)


def _sim_merge(target, source, on_fn, matched, not_matched):
    """Independent Snowflake-MERGE simulator, strict
    ERROR_ON_NONDETERMINISTIC_MERGE=TRUE semantics.

    matched: list of (cond_fn, action, payload) where payload is the
    SET dict for UPDATE (col -> (sql, fn)) or None for DELETE.
    not_matched: list of (cond_fn, insert_fn).
    Returns ("error", original_sorted) or
    ("ok", final_sorted, (n_ins, n_upd, n_del)).
    """
    orig = sorted(((r["id"], r["v"], r["w"]) for r in target), key=repr)
    out, matched_src = [], set()
    n_ins = n_upd = n_del = 0
    for t in target:
        actionable = []
        for si, s in enumerate(source):
            if not on_fn(t, s):
                continue
            matched_src.add(si)
            for cond_fn, action, payload in matched:
                if cond_fn(t, s):
                    actionable.append((action, payload, s))
                    break
        if len(actionable) >= 2:
            return ("error", orig)
        if not actionable:
            out.append((t["id"], t["v"], t["w"]))
            continue
        action, payload, s = actionable[0]
        if action == "DELETE":
            n_del += 1
            continue
        n_upd += 1
        new = dict(t)
        for col, (_sql, fn) in payload.items():
            new[col.lower()] = fn(t, s)
        out.append((new["id"], new["v"], new["w"]))
    for si, s in enumerate(source):
        if si in matched_src:
            continue
        for cond_fn, ins_fn in not_matched:
            if cond_fn(s):
                out.append(ins_fn(s))
                n_ins += 1
                break
    return ("ok", sorted(out, key=repr), (n_ins, n_upd, n_del))


def generate_merge_cases(seed: int, count: int,
                         tname: str = "fz_mrg_t",
                         sname: str = "fz_mrg_s") -> list[dict]:
    rng = random.Random(seed)
    cases = []
    for _ in range(count):
        target = _rand_rows(rng, rng.sample(range(0, 40),
                                            rng.randint(8, 20)))
        n_src = rng.randint(4, 14)
        if rng.random() < 0.30:  # duplicate source ids -> strict-mode food
            src_ids = [rng.randrange(0, 50) for _ in range(n_src)]
        else:
            src_ids = rng.sample(range(0, 50), n_src)
        source = _rand_rows(rng, src_ids)

        # source relation: bare table, filtering subquery, or an
        # AGGREGATING subquery (unique ids by construction — exercises
        # subquery execution inside MERGE without strict-mode noise)
        src_kind = rng.random()
        if src_kind < 0.20:
            src_sql = f"(SELECT * FROM {sname} WHERE v IS NOT NULL)"
            src_rows = [r for r in source if r["v"] is not None]
        elif src_kind < 0.35:
            src_sql = (f"(SELECT id, MAX(v) AS v, MAX(w) AS w "
                       f"FROM {sname} GROUP BY id)")
            grouped: dict = {}
            for r in source:
                grouped.setdefault(r["id"], []).append(r)
            src_rows = []
            for gid, rows_ in grouped.items():
                vs = [r["v"] for r in rows_ if r["v"] is not None]
                ws = [r["w"] for r in rows_ if r["w"] is not None]
                src_rows.append({"id": gid,
                                 "v": max(vs) if vs else None,
                                 "w": max(ws) if ws else None})
        else:
            src_sql = sname
            src_rows = source

        # ON condition
        if rng.random() < 0.20:
            c = rng.randint(2, 12)
            on_sql = f"t.id = s.id AND s.v >= {c}"
            on_fn = (lambda t, s, c=c: t["id"] == s["id"]
                     and s["v"] is not None and s["v"] >= c)
        else:
            on_sql = "t.id = s.id"
            on_fn = lambda t, s: t["id"] == s["id"]  # noqa: E731

        n_matched = rng.choice([0, 1, 1, 1, 2])
        n_not = rng.choice([0, 1, 1, 2])
        if n_matched == 0 and n_not == 0:
            n_matched = 1

        matched, not_matched, when_sql = [], [], []
        for mi in range(n_matched):
            # first of two clauses always gets a condition (else the
            # second is dead code in BOTH implementations anyway)
            force_cond = n_matched == 2 and mi == 0
            cond_sql, cond_fn = _matched_cond(rng)
            while force_cond and cond_sql is None:
                cond_sql, cond_fn = _matched_cond(rng)
            and_part = f" AND {cond_sql}" if cond_sql else ""
            if rng.random() < 0.70:
                sets = _update_sets(rng)
                set_sql = ", ".join(f"{c2} = {sql}"
                                    for c2, (sql, _f) in sets.items())
                when_sql.append(
                    f"WHEN MATCHED{and_part} THEN UPDATE SET {set_sql}")
                matched.append((cond_fn, "UPDATE", sets))
            else:
                when_sql.append(f"WHEN MATCHED{and_part} THEN DELETE")
                matched.append((cond_fn, "DELETE", None))
        for ni in range(n_not):
            force_cond = n_not == 2 and ni == 0
            cond_sql, cond_fn = _not_matched_cond(rng)
            while force_cond and cond_sql is None:
                cond_sql, cond_fn = _not_matched_cond(rng)
            and_part = f" AND {cond_sql}" if cond_sql else ""
            ins_sql, ins_fn = _insert_clause(rng)
            when_sql.append(
                f"WHEN NOT MATCHED{and_part} THEN INSERT {ins_sql}")
            not_matched.append((cond_fn, ins_fn))

        sql = (f"MERGE INTO {tname} t USING {src_sql} s ON {on_sql} "
               + " ".join(when_sql))
        expect = _sim_merge(target, src_rows, on_fn, matched, not_matched)
        cases.append({"desc": f"merge[m{n_matched}n{n_not}]",
                      "target": target, "source": source,
                      "sql": sql, "expect": expect,
                      # building blocks for the non-strict property
                      # recompute (src_rows = what MERGE actually sees
                      # after any subquery filtering/aggregation)
                      "src_rows": src_rows, "on_fn": on_fn,
                      "matched": matched, "not_matched": not_matched})
    return cases


def _seed_dml_table(engine, name: str, rows: list[dict]) -> None:
    engine.execute(
        f"CREATE OR REPLACE TABLE {name} (ID INTEGER, V INTEGER, W VARCHAR)")
    if rows:
        vals = ", ".join(
            f"({_dml_lit(r['id'])}, {_dml_lit(r['v'])}, {_dml_lit(r['w'])})"
            for r in rows)
        engine.execute(f"INSERT INTO {name} VALUES {vals}")


def run_merge_cases(engine, cases, tname: str = "fz_mrg_t",
                    sname: str = "fz_mrg_s") -> list[str]:
    from snowflake_emulator_spark import errors as _errors

    failures = []
    for case in cases:
        _seed_dml_table(engine, tname, case["target"])
        _seed_dml_table(engine, sname, case["source"])
        err = None
        counts = None
        try:
            r = engine.execute(case["sql"])
            counts = tuple(int(x) for x in r.rows[0])  # (ins, upd, del)
        except _errors.SnowflakeError as e:
            err = str(e)
        final = sorted(
            (tuple(normalize(v) for v in row)
             for row in engine.execute(f"SELECT ID, V, W FROM {tname}").rows),
            key=repr)
        expect = case["expect"]
        if expect[0] == "error":
            if err is None:
                failures.append(
                    f"{case['desc']}: expected strict-mode duplicate error, "
                    f"got success {counts} [{case['sql'][:120]}]")
            elif final != expect[1]:
                failures.append(
                    f"{case['desc']}: table CHANGED after strict error "
                    f"(rollback broken) [{case['sql'][:120]}]")
        else:
            _ok, want_rows, want_counts = expect
            if err is not None:
                failures.append(
                    f"{case['desc']}: unexpected error {err[:80]} "
                    f"[{case['sql'][:120]}]")
            elif final != want_rows:
                diff = [(a, b) for a, b in zip(final, want_rows)
                        if a != b][:3]
                failures.append(
                    f"{case['desc']}: {len(final)} vs {len(want_rows)} rows, "
                    f"first diffs {diff} [{case['sql'][:160]}]")
            elif counts != want_counts:
                failures.append(
                    f"{case['desc']}: counts {counts} != {want_counts} "
                    f"[{case['sql'][:120]}]")
    return failures


DML_KINDS = ("upd_where", "upd_multi", "upd_case", "upd_all", "del_where",
             "del_null", "upd_from", "del_using")
# subquery conditions, target aliases and subquery sources
DML_SUBQUERY_KINDS = ("upd_in", "del_not_in", "upd_exists", "del_not_exists",
                      "upd_alias", "del_alias", "upd_from_sub", "del_using_sub")


def generate_dml_cases(seed: int, count: int,
                       tname: str = "fz_dml_t",
                       sname: str = "fz_dml_s",
                       kinds: tuple[str, ...] = DML_KINDS) -> list[dict]:
    """Random UPDATE/DELETE (simple + FROM/USING) statements; the SAME
    statement text runs on the engine and on DuckDB natively, comparing
    affected-row counts and final table states."""
    rng = random.Random(seed)
    cases = []
    for _ in range(count):
        target = _rand_rows(rng, rng.sample(range(0, 40),
                                            rng.randint(8, 20)))
        source = _rand_rows(rng, rng.sample(range(0, 50),
                                            rng.randint(4, 12)))
        c = rng.randint(1, 15)
        k = rng.randint(1, 9)
        kind = rng.choice(kinds)
        if kind == "upd_where":
            sql = f"UPDATE {tname} SET V = V + {k} WHERE V % 2 = 0"
        elif kind == "upd_multi":
            sql = (f"UPDATE {tname} SET W = 'z', V = V * 2 "
                   f"WHERE V > {c}")
        elif kind == "upd_case":
            sql = (f"UPDATE {tname} SET V = CASE WHEN V > {c} "
                   f"THEN V + 1 ELSE V - 1 END WHERE V IS NOT NULL")
        elif kind == "upd_all":
            sql = f"UPDATE {tname} SET W = 'all'"
        elif kind == "del_where":
            sql = f"DELETE FROM {tname} WHERE V > {c}"
        elif kind == "del_null":
            sql = f"DELETE FROM {tname} WHERE W = 'a' OR V IS NULL"
        elif kind == "upd_from":
            sql = (f"UPDATE {tname} SET V = s.V + {k} FROM {sname} AS s "
                   f"WHERE {tname}.ID = s.ID AND s.V > {c}")
        elif kind == "del_using":
            sql = (f"DELETE FROM {tname} USING {sname} AS s "
                   f"WHERE {tname}.ID = s.ID AND s.V >= {c}")
        elif kind == "upd_in":
            sql = (f"UPDATE {tname} SET V = V + {k} "
                   f"WHERE ID IN (SELECT ID FROM {sname} WHERE V > {c})")
        elif kind == "del_not_in":
            # the subquery's V may be NULL: NOT IN is then never TRUE
            sql = (f"DELETE FROM {tname} WHERE V NOT IN "
                   f"(SELECT V FROM {sname} WHERE ID < {c + 20})")
        elif kind == "upd_exists":
            sql = (f"UPDATE {tname} AS a SET W = 'e' WHERE EXISTS "
                   f"(SELECT 1 FROM {sname} WHERE {sname}.ID = a.ID AND {sname}.V > {c})")
        elif kind == "del_not_exists":
            sql = (f"DELETE FROM {tname} WHERE NOT EXISTS (SELECT 1 FROM {sname} "
                   f"WHERE {sname}.ID = {tname}.ID)")
        elif kind == "upd_alias":
            sql = f"UPDATE {tname} AS a SET V = a.V - {k} WHERE a.V > {c}"
        elif kind == "del_alias":
            sql = f"DELETE FROM {tname} AS a WHERE a.W = 'b' OR a.V < {c}"
        elif kind == "upd_from_sub":
            sql = (f"UPDATE {tname} SET V = s.M FROM (SELECT ID, MAX(V) AS M FROM {sname} "
                   f"GROUP BY ID) AS s WHERE {tname}.ID = s.ID")
        else:  # del_using_sub
            sql = (f"DELETE FROM {tname} AS a USING (SELECT ID FROM {sname} "
                   f"WHERE V > {c}) AS s WHERE a.ID = s.ID")
        cases.append({"desc": f"dml[{kind}]", "target": target,
                      "source": source, "sql": sql})
    return cases


def run_dml_cases(engine, cases, tname: str = "fz_dml_t",
                  sname: str = "fz_dml_s") -> list[str]:
    import duckdb as _duckdb

    failures = []
    con = _duckdb.connect()
    con.execute(f"CREATE TABLE {tname} (ID INTEGER, V INTEGER, W VARCHAR)")
    con.execute(f"CREATE TABLE {sname} (ID INTEGER, V INTEGER, W VARCHAR)")
    for case in cases:
        _seed_dml_table(engine, tname, case["target"])
        _seed_dml_table(engine, sname, case["source"])
        for name, rows_ in ((tname, case["target"]), (sname, case["source"])):
            con.execute(f"DELETE FROM {name}")
            if rows_:
                con.execute(f"INSERT INTO {name} VALUES " + ", ".join(
                    f"({_dml_lit(r['id'])}, {_dml_lit(r['v'])}, "
                    f"{_dml_lit(r['w'])})" for r in rows_))
        try:
            r = engine.execute(case["sql"])
            eng_count = int(r.rows[0][0])
            duck_count = int(con.execute(case["sql"]).fetchall()[0][0])
        except Exception as e:  # noqa: BLE001
            failures.append(f"{case['desc']} ERROR: {e} [{case['sql'][:120]}]")
            continue
        eng_rows = sorted(
            (tuple(normalize(v) for v in row)
             for row in engine.execute(f"SELECT ID, V, W FROM {tname}").rows),
            key=repr)
        duck_rows = sorted(
            (tuple(normalize(v) for v in row) for row in
             con.execute(f"SELECT ID, V, W FROM {tname}").fetchall()),
            key=repr)
        if eng_rows != duck_rows:
            diff = [(a, b) for a, b in zip(eng_rows, duck_rows) if a != b][:3]
            failures.append(
                f"{case['desc']}: {len(eng_rows)} vs {len(duck_rows)} rows, "
                f"first diffs {diff} [{case['sql'][:160]}]")
        elif eng_count != duck_count:
            failures.append(
                f"{case['desc']}: affected-count {eng_count} != "
                f"{duck_count} [{case['sql'][:120]}]")
    con.close()
    return failures


# ---------------------------------------------------------------------
# Overlapping-DEFINE MATCH_RECOGNIZE family (r10, VERDICT r9 item 5):
# random patterns over symbols whose predicates OVERLAP per row, plus
# AFTER MATCH SKIP TO NEXT ROW. Oracle: DuckDB evaluates the predicate
# booleans (independent predicate semantics), each row is encoded as a
# bitmask byte, and PYTHON'S re module — an independent mature greedy
# backtracking engine with the same preference order — finds the match
# spans over the byte string via per-symbol character classes.
# ---------------------------------------------------------------------

_MR_OVERLAP_PREDS = [
    ("event_type = 'view'", "A"),
    ("event_type IN ('view','click')", "B"),
    ("value > 50", "C"),
    ("event_type <> 'purchase'", "D"),
    ("value <= 80", "E"),
]

# (spark_pattern, oracle_regex_pattern) — identical except PERMUTE,
# which the oracle expands to its alternation (Python re has no PERMUTE)
_MR_OVERLAP_PATTERNS = [
    ("A B", "A B"), ("A B+", "A B+"), ("B+ C", "B+ C"),
    ("A B? C", "A B? C"), ("(A|C) B", "(A|C) B"), ("A{2}", "A{2}"),
    ("B{2,3}", "B{2,3}"), ("A+? B", "A+? B"), ("C B* A", "C B* A"),
    ("(A B)+", "(A B)+"), ("B C?", "B C?"),
    # r10: anchors (partition start/end) and PERMUTE
    ("^ A B", "^ A B"), ("A B $", "A B $"),
    ("PERMUTE(A, B)", "(A B|B A)"),
    ("PERMUTE(A, B) C", "(A B|B A) C"),
]


def generate_mr_overlap_cases(seed: int, count: int) -> list[dict]:
    rng = random.Random(seed)
    out = []
    for _ in range(count):
        n_sym = rng.randint(2, 3)
        picks = rng.sample(_MR_OVERLAP_PREDS, n_sym)
        # rename to S1..Sn so patterns are independent of the pool letters
        syms = [f"S{i+1}" for i in range(n_sym)]
        preds = {s: p for s, (p, _tag) in zip(syms, picks)}
        pat, pat_rx = rng.choice(_MR_OVERLAP_PATTERNS)
        # map pattern letters A/B/C onto the drawn symbols (cyclic);
        # PERMUTE stays a keyword on the Spark side only
        letmap = {"A": syms[0], "B": syms[1 % n_sym],
                  "C": syms[2 % n_sym]}
        pattern = "".join(letmap.get(ch, ch) for ch in pat)
        pattern_rx = "".join(letmap.get(ch, ch) for ch in pat_rx)
        skip_next = rng.random() < 0.4
        umax = rng.choice([15, 30])
        out.append({
            "desc": f"mr_overlap[{pat} n{n_sym}"
                    f"{' skip_next' if skip_next else ''}]",
            "preds": preds, "pattern": pattern,
            "pattern_rx": pattern_rx, "skip_next": skip_next,
            "umax": umax,
        })
    return out


def run_mr_overlap_cases(executor, con, cases) -> list[str]:
    import re as _re2

    from snowflake_emulator_spark.executor import SessionContext

    failures = []
    for case in cases:
        preds, pattern = case["preds"], case["pattern"]
        syms = list(preds)
        skip_sql = ("AFTER MATCH SKIP TO NEXT ROW "
                    if case["skip_next"] else "")
        define_sql = ", ".join(f"{s} AS {p}" for s, p in preds.items())
        snow = f"""
SELECT user_id, match_number, n, fid, lid
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES COUNT(*) AS n, FIRST(event_id) AS fid, LAST(event_id) AS lid,
           MATCH_NUMBER() AS match_number
  ONE ROW PER MATCH
  {skip_sql}PATTERN ({pattern})
  DEFINE {define_sql}
) WHERE user_id <= {case['umax']} ORDER BY user_id, match_number"""
        # PRIOR-in-DEFINE cases carry a separate DuckDB predicate form
        # (partition-ordered lag window) — exact when no PRIOR-using
        # symbol can be a match's first row (generator guarantees it)
        duck_preds = case.get("duck_preds", preds)
        pred_cols = ", ".join(
            f"COALESCE(({p}), FALSE) AS p{i}"
            for i, p in enumerate(duck_preds.values()))
        duck_rows = con.execute(
            f"SELECT user_id, event_id, {pred_cols} FROM events "
            f"WHERE user_id <= {case['umax']} "
            f"ORDER BY user_id, ts, event_id").fetchall()
        # oracle: byte-encode candidate masks, Python re over char classes
        n_sym = len(syms)
        classes = []
        for i in range(n_sym):
            chars = "".join(chr(65 + m) for m in range(1 << n_sym)
                            if (m >> i) & 1)
            classes.append(f"[{chars}]")
        # longest-name-first single-pass replacement (S10 vs S1 safety)
        alt = "|".join(sorted((_re2.escape(s) for s in syms),
                              key=len, reverse=True))
        sym_rx = {s: classes[i] for i, s in enumerate(syms)}
        rx_text = _re2.sub(rf"\b(?:{alt})\b",
                           lambda m: sym_rx[m.group(0)],
                           case.get("pattern_rx", pattern))
        rx = _re2.compile(rx_text.replace(" ", ""))
        by_user: dict = {}
        for r in duck_rows:
            uid, eid = r[0], r[1]
            mask2 = sum((1 << i) if r[2 + i] else 0 for i in range(n_sym))
            by_user.setdefault(uid, []).append((eid, mask2))
        want = []
        for uid in sorted(by_user):
            rows_ = by_user[uid]
            s2 = "".join(chr(65 + m) for _eid, m in rows_)
            pos2, mno = 0, 0
            while pos2 < len(s2):
                m2 = rx.match(s2, pos2)
                if m2 is None or m2.end() == m2.start():
                    pos2 += 1
                    continue
                mno += 1
                st, en = m2.start(), m2.end()
                want.append((uid, mno, en - st,
                             rows_[st][0], rows_[en - 1][0]))
                pos2 = pos2 + 1 if case["skip_next"] else en
        try:
            got = [tuple(normalize(v) for v in r)
                   for r in executor.query_df(snow, SessionContext())
                   .collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(f"{case['desc']} ERROR: {e}")
            continue
        want = [tuple(normalize(v) for v in r) for r in want]
        if sorted(got, key=repr) != sorted(want, key=repr):
            diff = [(a, b) for a, b in zip(sorted(got, key=repr),
                                           sorted(want, key=repr))
                    if a != b][:3]
            failures.append(
                f"{case['desc']}: {len(got)} vs {len(want)} matches, "
                f"first diffs {diff}")
    return failures


# ---------------------------------------------------------------------
# CONNECT BY hierarchical-query family (r10): randomized tree shapes
# (parent(k) = floor(k/d)), START WITH present/omitted, post-hierarchy
# WHERE, and the r10 SELECT-list functions (SYS_CONNECT_BY_PATH,
# CONNECT_BY_ROOT, PRIOR) vs a hand-rolled DuckDB recursive CTE.
# Runs through run_asof_cases (full-query two-engine compare).
# ---------------------------------------------------------------------

def generate_connectby_cases(seed: int, count: int) -> list[tuple[str, str, str]]:
    rng = random.Random(seed)
    out = []
    for _ in range(count):
        d = rng.choice([2, 3, 4])
        start_with = rng.random() < 0.7
        use_path = rng.random() < 0.5
        use_root = rng.random() < 0.4
        use_prior = rng.random() < 0.4
        where_c = rng.choice([None, None, 8, 15])
        sep = rng.choice([" -> ", "/", "."])

        sel_snow = ["n.n_nationkey AS node_id", "LEVEL AS lvl"]
        sel_duck_anchor = ["n_nationkey AS node_id", "1 AS lvl"]
        sel_duck_rec = ["c.n_nationkey", "h.lvl + 1"]
        duck_out = ["node_id", "lvl"]
        if use_path:
            sel_snow.append(f"SYS_CONNECT_BY_PATH(n_name, '{sep}') AS path")
            sel_duck_anchor.append(f"concat('{sep}', n_name) AS path")
            sel_duck_rec.append(f"concat(h.path, '{sep}', c.n_name)")
            duck_out.append("path")
        if use_root:
            sel_snow.append("CONNECT_BY_ROOT n_name AS root_name")
            sel_duck_anchor.append("n_name AS root_name")
            sel_duck_rec.append("h.root_name")
            duck_out.append("root_name")
        if use_prior:
            sel_snow.append("PRIOR n_nationkey AS parent_id")
            sel_duck_anchor.append("CAST(NULL AS BIGINT) AS parent_id")
            sel_duck_rec.append("h.node_id")
            duck_out.append("parent_id")

        where_snow = f"WHERE n.n_nationkey < {where_c} " if where_c else ""
        start_snow = "START WITH n.n_nationkey = 0 " if start_with else ""
        snow = (f"SELECT {', '.join(sel_snow)} FROM nation n "
                f"{where_snow}{start_snow}"
                f"CONNECT BY PRIOR n_nationkey = FLOOR(n.n_nationkey / {d}) "
                f"AND n.n_nationkey > 0")

        anchor_where = ("WHERE n_nationkey = 0" if start_with else "")
        duck_where = f"WHERE node_id < {where_c}" if where_c else ""
        duck = (
            f"WITH RECURSIVE h AS ("
            f"SELECT {', '.join(sel_duck_anchor)} FROM nation {anchor_where} "
            f"UNION ALL "
            f"SELECT {', '.join(sel_duck_rec)} FROM nation c "
            f"JOIN h ON floor(c.n_nationkey / {d}) = h.node_id "
            f"AND c.n_nationkey > 0) "
            f"SELECT {', '.join(duck_out)} FROM h {duck_where}")
        out.append((
            f"connectby[d{d}{' sw' if start_with else ''}"
            f"{' path' if use_path else ''}{' root' if use_root else ''}"
            f"{' prior' if use_prior else ''}"
            f"{f' w<{where_c}' if where_c else ''}]",
            snow, duck))
    return out


# ---------------------------------------------------------------------
# Multi-table INSERT ALL|FIRST family (r10): random WHEN routing vs a
# DuckDB DECOMPOSED replay (each WHEN clause becomes INSERT..SELECT with
# the first-match guard for FIRST and the none-matched guard for ELSE).
# ---------------------------------------------------------------------

def generate_mti_cases(seed: int, count: int,
                       sname: str = "fz_mti_s") -> list[dict]:
    rng = random.Random(seed)
    cases = []
    for _ in range(count):
        source = _rand_rows(rng, rng.sample(range(0, 40),
                                            rng.randint(8, 20)))
        n_when = rng.randint(1, 3)
        conds = []
        for _i in range(n_when):
            c = rng.randint(2, 15)
            conds.append(rng.choice([
                f"v < {c}", "v % 2 = 0", "w = 'a'", f"v + id > {c}"]))
        vals = [rng.choice(["v", "v * 2", "id + v", "id"]) for _ in conds]
        wvals = [rng.choice(["w", "'k'", "w || 'x'"]) for _ in conds]
        use_else = rng.random() < 0.4
        first = rng.random() < 0.5
        cases.append({"desc": f"mti[{'FIRST' if first else 'ALL'} "
                              f"n{n_when}{' else' if use_else else ''}]",
                      "source": source, "conds": conds, "vals": vals,
                      "wvals": wvals, "use_else": use_else, "first": first})
    return cases


def run_mti_cases(engine, cases, sname: str = "fz_mti_s") -> list[str]:
    import duckdb as _duckdb

    failures = []
    con = _duckdb.connect()
    con.execute(f"CREATE TABLE {sname} (ID INTEGER, V INTEGER, W VARCHAR)")
    n_tgts = 4  # t0..t2 for WHEN clauses, t3 for ELSE
    for i in range(n_tgts):
        con.execute(f"CREATE TABLE fz_mti_t{i} (X INTEGER, Y VARCHAR)")
    for case in cases:
        _seed_dml_table(engine, sname, case["source"])
        con.execute(f"DELETE FROM {sname}")
        if case["source"]:
            con.execute(f"INSERT INTO {sname} VALUES " + ", ".join(
                f"({_dml_lit(r['id'])}, {_dml_lit(r['v'])}, "
                f"{_dml_lit(r['w'])})" for r in case["source"]))
        for i in range(n_tgts):
            engine.execute(f"CREATE OR REPLACE TABLE fz_mti_t{i} "
                           f"(X INTEGER, Y VARCHAR)")
            con.execute(f"DELETE FROM fz_mti_t{i}")
        conds, vals, wvals = case["conds"], case["vals"], case["wvals"]
        whens = " ".join(
            f"WHEN {c} THEN INTO fz_mti_t{i} (X, Y) VALUES ({v}, {wv})"
            for i, (c, v, wv) in enumerate(zip(conds, vals, wvals)))
        els = " ELSE INTO fz_mti_t3 (X, Y) VALUES (id, w)" \
            if case["use_else"] else ""
        stmt = (f"INSERT {'FIRST' if case['first'] else 'ALL'} "
                f"{whens}{els} SELECT id, v, w FROM {sname}")
        try:
            r = engine.execute(stmt)
            eng_count = int(r.rows[0][0])
        except Exception as e:  # noqa: BLE001
            failures.append(f"{case['desc']} ERROR: {e} [{stmt[:140]}]")
            continue
        # DuckDB decomposed replay
        duck_count = 0
        for i, (c, v, wv) in enumerate(zip(conds, vals, wvals)):
            guard = c
            if case["first"] and i:
                guard = c + "".join(
                    f" AND NOT coalesce({p}, FALSE)" for p in conds[:i])
            duck_count += con.execute(
                f"INSERT INTO fz_mti_t{i} SELECT {v}, {wv} FROM {sname} "
                f"WHERE {guard}").fetchall()[0][0]
        if case["use_else"]:
            guard = " AND ".join(
                f"NOT coalesce({p}, FALSE)" for p in conds)
            duck_count += con.execute(
                f"INSERT INTO fz_mti_t3 SELECT id, w FROM {sname} "
                f"WHERE {guard}").fetchall()[0][0]
        for i in range(n_tgts):
            eng_rows = sorted(
                (tuple(normalize(x) for x in row) for row in
                 engine.execute(f"SELECT X, Y FROM fz_mti_t{i}").rows),
                key=repr)
            duck_rows = sorted(
                (tuple(normalize(x) for x in row) for row in
                 con.execute(f"SELECT X, Y FROM fz_mti_t{i}").fetchall()),
                key=repr)
            if eng_rows != duck_rows:
                diff = [(a, b) for a, b in zip(eng_rows, duck_rows)
                        if a != b][:3]
                failures.append(
                    f"{case['desc']} t{i}: {len(eng_rows)} vs "
                    f"{len(duck_rows)} rows, diffs {diff} [{stmt[:140]}]")
                break
        else:
            if eng_count != duck_count:
                failures.append(
                    f"{case['desc']}: inserted-count {eng_count} != "
                    f"{duck_count} [{stmt[:140]}]")
    con.close()
    return failures


def generate_mr_prior_cases(seed: int, count: int) -> list[dict]:
    """PRIOR/NEXT-navigation DEFINE fuzz (r10; extended r11): SQL:2016
    PREV/NEXT navigate the partition PHYSICALLY (NULL only at the
    partition's first/last row), so the DuckDB lag()/lead() replay
    through run_mr_overlap_cases is exact for EVERY pattern — including
    the canonical ``DOWN+ UP+`` shape where a navigation-using symbol
    starts the match (the r10 generator avoided that case; the r11
    semantics fix makes it correct)."""
    rng = random.Random(seed)
    lag = ("lag(value) OVER (PARTITION BY user_id "
           "ORDER BY ts, event_id)")
    lead = ("lead(value) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id)")
    out = []
    for _ in range(count):
        k = rng.choice([0, 0, 5, 10])
        up_sql = (f"value > PRIOR value + {k}" if k
                  else "value > PRIOR value")
        up_duck = f"value > {lag} + {k}" if k else f"value > {lag}"
        dn_sql = "value < PRIOR value"
        dn_duck = f"value < {lag}"
        # r11: NEXT navigation (physical lead) as an alternative D
        if rng.random() < 0.4:
            dn_sql = "value < NEXT value"
            dn_duck = f"value < {lead}"
        start = rng.choice([
            ("event_type = 'view'", "event_type = 'view'"),
            ("value IS NOT NULL", "value IS NOT NULL"),
            ("value <= 100", "value <= 100"),
        ])
        pat = rng.choice([
            "S U+", "S U{2,3}", "S U+ D", "S U U", "S (U|D)+",
            # r11: navigation-using symbol STARTS the match
            "U+", "U+ D", "D+ U+", "U U", "(U|D){2,4}", "D U+",
        ])
        skip_next = rng.random() < 0.3
        out.append({
            "desc": f"mr_prior[{pat} k{k}"
                    f"{' skip_next' if skip_next else ''}]",
            "preds": {"S": start[0], "U": up_sql, "D": dn_sql},
            "duck_preds": {"S": start[1], "U": up_duck, "D": dn_duck},
            "pattern": pat, "pattern_rx": pat,
            "skip_next": skip_next, "umax": rng.choice([15, 30]),
        })
    return out


def run_merge_nonstrict_cases(engine, cases, tname: str = "fz_mrg_t",
                              sname: str = "fz_mrg_s") -> list[str]:
    """ERROR_ON_NONDETERMINISTIC_MERGE=FALSE property check: a target
    row matched by MULTIPLE actionable sources applies exactly ONE
    first-match action instead of raising. WHICH action wins can be
    engine-order-dependent, so the gate is invariants, not exact rows:
    (a) the statement succeeds; (b) n_upd + n_del == #targets with >=1
    actionable match (deterministic); (c) n_ins == the simulator's
    insert count; (d) final rowcount == orig - n_del + n_ins."""
    from snowflake_emulator_spark import errors as _errors
    from snowflake_emulator_spark.executor import SessionContext

    failures = []
    for case in cases:
        _seed_dml_table(engine, tname, case["target"])
        _seed_dml_table(engine, sname, case["source"])
        ctx = SessionContext()
        ctx.parameters["ERROR_ON_NONDETERMINISTIC_MERGE"] = "FALSE"
        try:
            r = engine.execute(case["sql"], ctx)
            n_ins, n_upd, n_del = (int(x) for x in r.rows[0])
        except _errors.SnowflakeError as e:
            failures.append(
                f"{case['desc']}: non-strict mode raised {str(e)[:80]} "
                f"[{case['sql'][:120]}]")
            continue
        exp = case["nonstrict_expect"]
        final_n = len(engine.execute(f"SELECT 1 FROM {tname}").rows)
        if n_upd + n_del != exp["n_actioned"]:
            failures.append(
                f"{case['desc']}: upd+del {n_upd}+{n_del} != "
                f"{exp['n_actioned']} actioned targets [{case['sql'][:120]}]")
        elif n_ins != exp["n_ins"]:
            failures.append(
                f"{case['desc']}: ins {n_ins} != {exp['n_ins']}")
        elif final_n != exp["n_orig"] - n_del + n_ins:
            failures.append(
                f"{case['desc']}: final rowcount {final_n} != "
                f"{exp['n_orig']} - {n_del} + {n_ins}")
    return failures


def generate_merge_nonstrict_cases(seed: int, count: int,
                                   tname: str = "fz_mrg_t",
                                   sname: str = "fz_mrg_s") -> list[dict]:
    """Merge cases with GUARANTEED duplicate actionable matches: the
    source duplicates 2-4 target ids 2-3x each with a broadly-true
    matched clause, so strict mode must raise and non-strict mode must
    apply exactly one action per target. Carries the deterministic
    non-strict invariants."""
    rng = random.Random(seed)
    cases = []
    for _ in range(count):
        target = _rand_rows(rng, rng.sample(range(0, 30),
                                            rng.randint(6, 14)))
        dup_ids = rng.sample([t["id"] for t in target],
                             rng.randint(2, 4))
        src_ids = []
        for d in dup_ids:
            src_ids += [d] * rng.randint(2, 3)
        src_ids += rng.sample([i for i in range(30, 50)],
                              rng.randint(2, 5))
        source = _rand_rows(rng, src_ids)
        on_fn = lambda t, s: t["id"] == s["id"]  # noqa: E731
        matched = []
        when_sql = []
        if rng.random() < 0.6:
            sets = _update_sets(rng)
            set_sql = ", ".join(f"{c2} = {sql}"
                                for c2, (sql, _f) in sets.items())
            when_sql.append(f"WHEN MATCHED THEN UPDATE SET {set_sql}")
            matched.append((lambda t, s: True, "UPDATE", sets))
        else:
            when_sql.append("WHEN MATCHED THEN DELETE")
            matched.append((lambda t, s: True, "DELETE", None))
        not_matched = []
        if rng.random() < 0.7:
            cond_sql, cond_fn = _not_matched_cond(rng)
            and_part = f" AND {cond_sql}" if cond_sql else ""
            ins_sql, ins_fn = _insert_clause(rng)
            when_sql.append(
                f"WHEN NOT MATCHED{and_part} THEN INSERT {ins_sql}")
            not_matched.append((cond_fn, ins_fn))
        sql = (f"MERGE INTO {tname} t USING {sname} s ON t.id = s.id "
               + " ".join(when_sql))
        cases.append({"desc": "merge_nonstrict", "target": target,
                      "source": source, "src_rows": source, "sql": sql,
                      "on_fn": on_fn, "matched": matched,
                      "not_matched": not_matched})
    for case in cases:
        target, source = case["target"], case["src_rows"]
        on_fn = case["on_fn"]
        matched, not_matched = case["matched"], case["not_matched"]
        matched_src = set()
        n_actioned = 0
        for t in target:
            act = 0
            for si, s in enumerate(source):
                if not on_fn(t, s):
                    continue
                matched_src.add(si)
                for cond_fn, _action, _payload in matched:
                    if cond_fn(t, s):
                        act += 1
                        break
            if act:
                n_actioned += 1
        n_ins = 0
        for si, s in enumerate(source):
            if si in matched_src:
                continue
            for cond_fn, _ins_fn in not_matched:
                if cond_fn(s):
                    n_ins += 1
                    break
        case["nonstrict_expect"] = {
            "n_actioned": n_actioned, "n_ins": n_ins,
            "n_orig": len(target)}
    return cases


# ---------------------------------------------------------------------
# Exact-substring dedup family (r11): random small corpora with PLANTED
# duplicate spans (cross-doc and within-doc), Spark substring_dedup vs
# a full DuckDB replay (anchors -> df>1 -> gaps-and-islands -> splice).
# ---------------------------------------------------------------------

_SUBSTR_FUZZ_ORACLE = """
WITH g AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         CAST(concat('0x', substr(md5(substr(text, CAST(i AS INTEGER), {G})), 1, 15)) AS UBIGINT) AS gh
  FROM {T}, unnest(range(1, greatest(len(text) - {G2}, 1))) AS u(i)
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1),
h AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + {G}) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + {G}) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM h),
isl2 AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + {G} AS e
  FROM isl2 GROUP BY doc_id, island),
segs AS (
  SELECT sp.doc_id, sp.s, sp.e,
         coalesce(lag(sp.e) OVER (PARTITION BY sp.doc_id ORDER BY sp.s), 1) AS prev
  FROM spans sp),
pieces AS (
  SELECT sg.doc_id, sg.s AS ord, substr(d.text, sg.prev, sg.s - sg.prev) AS piece
  FROM segs sg JOIN {T} d USING (doc_id)
  UNION ALL
  SELECT m.doc_id, 2147483647, substr(d.text, m.last_e) AS piece
  FROM (SELECT doc_id, max(e) AS last_e FROM spans GROUP BY doc_id) m
  JOIN {T} d USING (doc_id)),
clean AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS cleaned
  FROM pieces GROUP BY doc_id),
stats AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s) AS n_removed
  FROM spans GROUP BY doc_id)
SELECT d.doc_id, coalesce(st.n_spans, 0) AS n_spans,
       coalesce(st.n_removed, 0) AS n_removed,
       coalesce(c.cleaned, d.text) AS cleaned
FROM {T} d
LEFT JOIN stats st USING (doc_id)
LEFT JOIN clean c USING (doc_id)
ORDER BY d.doc_id
"""


def generate_substr_cases(seed: int, count: int) -> list[dict]:
    rng = random.Random(seed)
    out = []
    for ci in range(count):
        gram = rng.choice([6, 8, 12])
        n_docs = rng.randint(4, 12)
        vocab = "abcdef "
        phrases = ["".join(rng.choice(vocab) for _ in range(
            rng.randint(gram, gram * 3))) for _ in range(3)]
        docs = []
        for d in range(n_docs):
            parts = []
            for _ in range(rng.randint(1, 4)):
                if rng.random() < 0.55:
                    parts.append(rng.choice(phrases))   # planted dup
                else:
                    parts.append("".join(rng.choice(vocab) for _ in range(
                        rng.randint(0, gram * 2))))
            text = "".join(parts)
            if rng.random() < 0.1:
                text = text[: gram - 1]   # shorter than one anchor
            docs.append((d, text))
        out.append({"desc": f"substr[g{gram} n{n_docs} c{ci}]",
                    "gram": gram, "docs": docs})
    return out


def run_substr_cases(spark, con, cases) -> list[str]:
    from snowflake_emulator_spark.operators import dedup as _dd

    failures = []
    for case in cases:
        df = spark.createDataFrame(case["docs"], "doc_id long, text string")
        got = sorted(
            (r["doc_id"], r["n_spans"], r["n_removed"], r["cleaned"])
            for r in _dd.substring_dedup(df, gram=case["gram"]).collect())
        con.execute("CREATE OR REPLACE TABLE __substr_t (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO __substr_t VALUES (?, ?)", case["docs"])
        want = [tuple(r) for r in con.execute(
            _SUBSTR_FUZZ_ORACLE.format(T="__substr_t", G=case["gram"],
                                       G2=case["gram"] - 2)).fetchall()]
        if got != sorted(want):
            diff = [(a, b) for a, b in zip(got, sorted(want)) if a != b][:2]
            failures.append(f"{case['desc']}: {diff}")
    return failures


# ---------------------------------------------------------------------
# MATCH_RECOGNIZE SUBSET family (r13): union symbols as measure
# qualifiers. Symbols are MUTUALLY EXCLUSIVE value bins, so each
# matched row's CLASSIFIER is determined by its own predicate and the
# Python re replay can compute subset measures (COUNT/FIRST/LAST over
# member rows) exactly from the matched char span.
# ---------------------------------------------------------------------

_MR_SUBSET_PATTERNS = [
    # (engine pattern over L/M/H, regex over chars l/m/h; 'z' = no bin)
    ("L M+ H", "lm+h"),
    ("L+ (M | H)+", "l+[mh]+"),
    ("(L | M)+ H+", "[lm]+h+"),
    ("M (L | H)+ M?", "m[lh]+m?"),
]


def generate_mr_subset_cases(seed: int, count: int) -> list[dict]:
    rng = random.Random(seed)
    out = []
    for _ in range(count):
        lo = rng.choice([15.0, 20.0, 25.0])
        hi = rng.choice([45.0, 55.0, 65.0])
        pat, rx = rng.choice(_MR_SUBSET_PATTERNS)
        # the union symbol covers a random >=2-symbol subset of L/M/H
        members = rng.sample(["L", "M", "H"], rng.randint(2, 3))
        skip_next = rng.random() < 0.3
        out.append({
            "desc": f"mr_subset[{pat} U=({','.join(members)})"
                    f"{' skip_next' if skip_next else ''}]",
            "lo": lo, "hi": hi, "pattern": pat, "rx": rx,
            "members": members, "skip_next": skip_next,
            "umax": rng.choice([15, 30]),
        })
    return out


def run_mr_subset_cases(executor, con, cases) -> list[str]:
    import re as _re2

    from snowflake_emulator_spark.executor import SessionContext

    failures = []
    for case in cases:
        lo, hi = case["lo"], case["hi"]
        members = case["members"]
        skip_sql = ("AFTER MATCH SKIP TO NEXT ROW "
                    if case["skip_next"] else "")
        snow = f"""
SELECT user_id, match_number, n, nu, fu, lu
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES MATCH_NUMBER() AS match_number, COUNT(*) AS n,
           COUNT(U.*) AS nu, FIRST(U.event_id) AS fu,
           LAST(U.event_id) AS lu
  ONE ROW PER MATCH
  {skip_sql}PATTERN ({case['pattern']})
  SUBSET U = ({', '.join(members)})
  DEFINE L AS value < {lo},
         M AS value >= {lo} AND value < {hi},
         H AS value >= {hi}
) WHERE user_id <= {case['umax']} ORDER BY user_id, match_number"""
        duck_rows = con.execute(
            f"SELECT user_id, event_id, "
            f"CASE WHEN value < {lo} THEN 'l' "
            f"     WHEN value < {hi} THEN 'm' ELSE 'h' END AS ch "
            f"FROM events WHERE user_id <= {case['umax']} "
            f"ORDER BY user_id, ts, event_id").fetchall()
        rx = _re2.compile(case["rx"])
        member_chars = {s.lower() for s in members}
        by_user: dict = {}
        for uid, eid, ch in duck_rows:
            by_user.setdefault(uid, []).append((eid, ch))
        want = []
        for uid in sorted(by_user):
            rows_ = by_user[uid]
            s2 = "".join(ch for _eid, ch in rows_)
            pos2, mno = 0, 0
            while pos2 < len(s2):
                m2 = rx.match(s2, pos2)
                if m2 is None or m2.end() == m2.start():
                    pos2 += 1
                    continue
                mno += 1
                st, en = m2.start(), m2.end()
                urows = [i for i in range(st, en)
                         if s2[i] in member_chars]
                want.append((
                    uid, mno, en - st, len(urows),
                    rows_[urows[0]][0] if urows else None,
                    rows_[urows[-1]][0] if urows else None))
                pos2 = pos2 + 1 if case["skip_next"] else en
        try:
            got = [tuple(normalize(v) for v in r)
                   for r in executor.query_df(snow, SessionContext())
                   .collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(f"{case['desc']} ERROR: {e}")
            continue
        want = [tuple(normalize(v) for v in r) for r in want]
        if sorted(got, key=repr) != sorted(want, key=repr):
            diff = [(a, b) for a, b in zip(sorted(got, key=repr),
                                           sorted(want, key=repr))
                    if a != b][:3]
            failures.append(
                f"{case['desc']}: {len(got)} vs {len(want)} matches, "
                f"first diffs {diff}")
    return failures
