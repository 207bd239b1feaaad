"""ClickHouse-dialect translation: text-level rewrites + end-to-end runs
against the testdata with hand-computed or DuckDB-mirrored expectations."""

from __future__ import annotations

import pytest
from hypothesis import given as given_chd
from hypothesis import settings as settings_chd
from hypothesis import strategies as st_chd

from clickhouse_sinker_spark.functions.chdialect import (
    ChTranslationError,
    ch_sql,
    translate_ch_sql,
)

from .conftest import SF_DIR


def T(sql: str) -> str:
    return translate_ch_sql(sql)[0]


def test_rename_and_trunc_rewrites():
    assert T("SELECT toStartOfHour(ts) FROM events") == (
        "SELECT date_trunc('HOUR', ts) FROM events"
    )
    assert T("SELECT uniq(user_id), countIf(value > 1) FROM events") == (
        "SELECT approx_count_distinct(user_id), count_if(value > 1) FROM events"
    )
    assert T("SELECT argMax(event_type, value) FROM events") == (
        "SELECT max_by(event_type, value) FROM events"
    )
    assert T("SELECT toMonday(toDate(ts)) FROM events") == (
        "SELECT date_trunc('WEEK', to_date(ts)) FROM events"
    )
    # the numeric trunc alias must NOT rewrite Spark's date-only
    # trunc(d, 'unit') — our own toWeek emission contains one and is
    # re-traversed by the trunc pass (regression: the alias turned the
    # 'year' unit into pow(10, year) and broke every toWeek query)
    assert T("SELECT trunc(toDate(ts), 'year')") == (
        "SELECT trunc(to_date(ts), 'year')"
    )
    assert "floor" in T("SELECT trunc(value, 2)")
    assert "toWeek" not in T("SELECT toWeek(toDate(ts))")


def test_cast_and_arith_rewrites():
    assert T("SELECT toInt64(value) FROM events") == (
        "SELECT CAST(value AS BIGINT) FROM events"
    )
    assert T("SELECT toUInt64(value)") == "SELECT CAST(value AS DECIMAL(20,0))"
    assert T("SELECT intDiv(user_id, 10), modulo(user_id, 7)") == (
        "SELECT ((user_id) DIV (10)), ((user_id) % (7))"
    )
    # operand parenthesization: DIV binds tighter than + in Spark SQL
    assert T("SELECT intDiv(n + 1, 2)") == "SELECT ((n + 1) DIV (2))"
    assert T("SELECT toYYYYMM(ts)") == "SELECT CAST(date_format(ts, 'yyyyMM') AS INT)"


def test_agg_if_combinators_become_filter_clause():
    assert T("SELECT sumIf(value, value > 0) FROM events") == (
        "SELECT sum(value) FILTER (WHERE value > 0) FROM events"
    )
    assert T("SELECT avgIf(value, event_type = 'click')") == (
        "SELECT avg(value) FILTER (WHERE event_type = 'click')"
    )


def test_quantile_combinator_two_group_form():
    assert T("SELECT quantile(0.5)(value) FROM events") == (
        "SELECT percentile_approx(value, 0.5) FROM events"
    )
    assert T("SELECT quantileExact(0.9)(value)") == "SELECT percentile(value, 0.9)"
    with pytest.raises(ChTranslationError):
        T("SELECT quantile(value)")  # missing combinator group


def test_multi_if_and_nested_calls():
    got = T("SELECT multiIf(value > 1, 'hi', empty(event_type), 'none', 'lo')")
    assert got == (
        "SELECT CASE WHEN value > 1 THEN 'hi' "
        "WHEN (octet_length(event_type) = 0) THEN 'none' ELSE 'lo' END"
    )
    # nested translation inside arguments
    assert T("SELECT sumIf(toFloat64(value), toInt32(user_id) > 5)") == (
        "SELECT sum(CAST(value AS DOUBLE)) FILTER (WHERE CAST(user_id AS BIGINT) > 5)"
    )


def test_prewhere_and_final():
    sql, notes = translate_ch_sql(
        "SELECT count(*) FROM events FINAL PREWHERE value > 0 WHERE user_id < 10"
    )
    assert "FINAL" not in sql and "PREWHERE" not in sql
    assert "WHERE (value > 0) AND  user_id < 10" in sql
    assert any("FINAL" in n for n in notes)

    sql2, _ = translate_ch_sql("SELECT count(*) FROM events PREWHERE value > 0")
    assert "WHERE value > 0" in sql2


def test_unsupported_raises_not_mistranslates():
    with pytest.raises(ChTranslationError):
        T("SELECT cityHash64(event_type) FROM events")
    with pytest.raises(ChTranslationError):
        T("SELECT sparkBar(10)(ts, value) FROM events")


def test_end_to_end_against_spark(spark):
    """A realistic ClickHouse monitoring query runs translated on the real
    tables and matches the directly-written Spark SQL answer."""
    ch = """
        SELECT toStartOfHour(ts) AS h,
               count(*) AS n,
               countIf(value > 100) AS big,
               uniqExact(user_id) AS users,
               sumIf(value, event_type = 'click') AS click_value
        FROM events
        WHERE user_id < 500
        GROUP BY h
        ORDER BY h
        LIMIT 5
    """
    got = ch_sql(spark, ch, SF_DIR).collect()
    from clickhouse_sinker_spark.sources.tables import load_table

    load_table(spark, SF_DIR, "events").createOrReplaceTempView("events")
    want = spark.sql("""
        SELECT date_trunc('HOUR', ts) AS h,
               count(*) AS n,
               count_if(value > 100) AS big,
               count(DISTINCT user_id) AS users,
               sum(value) FILTER (WHERE event_type = 'click') AS click_value
        FROM events
        WHERE user_id < 500
        GROUP BY h ORDER BY h LIMIT 5
    """).collect()
    assert got == want and len(got) == 5


def test_ch_sql_reasserts_views_over_foreign_registrations(spark):
    """The per-session cache must not let an interleaved
    createOrReplaceTempView of one of the ten table names leak into a
    later ch_sql call — views are re-asserted from the cached DataFrames
    on every invocation."""
    n1 = ch_sql(spark, "SELECT count(*) AS n FROM events", SF_DIR).first()["n"]
    spark.createDataFrame([(1,)], "user_id int").createOrReplaceTempView("events")
    n2 = ch_sql(spark, "SELECT count(*) AS n FROM events", SF_DIR).first()["n"]
    assert n1 == n2 and n1 > 1


def test_end_to_end_array_join_and_split(spark):
    ch = """
        SELECT doc_id, arrayJoin(splitByChar(' ', text)) AS tok
        FROM documents
        WHERE doc_id < 3
    """
    rows = ch_sql(spark, ch, SF_DIR).collect()
    assert len(rows) > 3  # exploded: one row per token
    assert all(" " not in r["tok"] for r in rows)
    docs = {r["doc_id"] for r in rows}
    assert docs == {0, 1, 2}


def test_renames_do_not_touch_string_literals():
    """ADVICE r4: a data value containing text like "any(" or "has(" must
    survive translation byte-identical — renames go through the same
    string-aware scanner as structural rewrites."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    sql = "SELECT any(x), 'call any(thing) or has(stuff)' AS lit FROM t"
    got, _ = translate_ch_sql(sql)
    assert "first(x)" in got
    assert "'call any(thing) or has(stuff)'" in got

    sql2 = "SELECT 'empty(' , notEmpty(name) FROM t"
    got2, _ = translate_ch_sql(sql2)
    assert "'empty('" in got2 and "(octet_length(name) > 0)" in got2


def test_empty_on_array_expression_uses_size(spark):
    """ClickHouse empty() over an array: array-producing arguments
    translate to size(), and the result executes on Spark."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT notEmpty(splitByChar(',', tags)) AS has_tags, empty(name) AS noname FROM t"
    )
    assert "(size(split(tags, ',')) > 0)" in got
    assert "(octet_length(name) = 0)" in got

    spark.createDataFrame([("a,b", ""), ("", "x")], "tags string, name string") \
        .createOrReplaceTempView("t")
    rows = spark.sql(got).collect()
    assert [(r["has_tags"], r["noname"]) for r in rows] == [(True, True), (True, False)]


def test_array_lambda_functions_translate_and_execute(spark):
    """CH higher-order array functions: lambda-first argument order flips
    to Spark's collection-first; lambda syntax is shared verbatim."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    sql = """
    SELECT arrayMap(x -> x * 2, xs) AS doubled,
           arrayFilter(x -> x > 1, xs) AS big,
           arrayExists(x -> x = 3, xs) AS has3,
           arrayAll(x -> x > 0, xs) AS all_pos,
           arrayCount(x -> x % 2 = 0, xs) AS n_even,
           arraySum(xs) AS s,
           arraySum(x -> x * x, xs) AS sq,
           arrayEnumerate(xs) AS idxs,
           indexOf(xs, 3) AS pos3,
           arrayStringConcat(arrayMap(x -> toString(x), xs), '-') AS joined,
           hasAny(xs, arrayConcat(arrayFilter(x -> x > 2, xs))) AS any_big,
           hasAll(xs, arrayFilter(x -> x < 3, xs)) AS all_small
    FROM t
    """
    got, _ = translate_ch_sql(sql)
    assert "transform(xs, x -> x * 2)" in got
    assert "filter(xs, x -> x > 1)" in got
    assert "sequence(1, size(xs))" in got
    spark.createDataFrame([([1, 2, 3],)], "xs array<int>").createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["doubled"] == [2, 4, 6]
    assert row["big"] == [2, 3]
    assert row["has3"] is True and row["all_pos"] is True
    assert row["n_even"] == 1
    assert row["s"] == 6.0 and row["sq"] == 14.0
    assert row["idxs"] == [1, 2, 3]
    assert row["pos3"] == 3
    assert row["joined"] == "1-2-3"
    assert row["any_big"] is True and row["all_small"] is True


def test_array_renames_execute(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT arrayDistinct(arraySort(arrayReverse(xs))) AS d, "
        "arrayMin(xs) AS lo, arrayMax(xs) AS hi FROM t"
    )
    spark.createDataFrame([([3, 1, 3, 2],)], "xs array<int>").createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["d"] == [1, 2, 3] and row["lo"] == 1 and row["hi"] == 3


def test_datetime_part_functions_execute(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT toHour(ts) AS h, toYear(ts) AS y, toDayOfMonth(ts) AS dom, "
        "toDayOfWeek(ts) AS dow, toYYYYMMDD(ts) AS ymd, "
        "toUnixTimestamp(ts) AS ut, formatDateTime(ts, '%Y-%m-%dT%H:%M:%S') AS s, "
        "dateDiff('hour', ts, addDays(ts, 1)) AS dh, "
        "subtractHours(ts, 2) AS back2 FROM t"
    )
    import datetime

    spark.createDataFrame(
        [(datetime.datetime(2024, 5, 6, 13, 45, 7),)], "ts timestamp"
    ).createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["h"] == 13 and row["y"] == 2024 and row["dom"] == 6
    assert row["dow"] == 1  # 2024-05-06 is a Monday; CH numbering 1=Mon
    assert row["ymd"] == 20240506
    assert row["s"] == "2024-05-06T13:45:07"
    assert row["dh"] == 24
    assert row["back2"] == datetime.datetime(2024, 5, 6, 11, 45, 7)


def test_string_functions_execute(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT position(name, 'lo') AS p, startsWith(name, 'he') AS sw, "
        "endsWith(name, 'lo') AS ew, leftPad(name, 7, '*') AS lp, "
        "trimBoth(pad) AS tb, replaceAll(name, 'l', 'L') AS rep, "
        "lengthUTF8(name) AS n FROM t"
    )
    spark.createDataFrame([("hello", "  x  ")], "name string, pad string") \
        .createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["p"] == 4 and row["sw"] is True and row["ew"] is True
    assert row["lp"] == "**hello" and row["tb"] == "x"
    assert row["rep"] == "heLLo" and row["n"] == 5


def test_format_datetime_unknown_token_raises():
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    with pytest.raises(ChTranslationError, match="token"):
        translate_ch_sql("SELECT formatDateTime(ts, '%Q') FROM t")


def test_json_extract_family(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT JSONExtractString(j, 'name') AS nm, "
        "JSONExtractInt(j, 'meta', 'n') AS n, "
        "JSONExtractFloat(j, 'v') AS v, "
        "JSONExtractString(j, 'tags', 2) AS tag2, "
        "JSONHas(j, 'meta') AS has_meta, JSONHas(j, 'nope') AS has_nope, "
        "JSONLength(j, 'tags') AS n_tags, "
        "JSONLength(j) AS n_keys, JSONLength(j, 'meta') AS n_meta, "
        "JSONLength(j, 'name') AS n_scalar FROM t"
    )
    assert "get_json_object(j, '$.name')" in got
    assert "CAST(get_json_object(j, '$.meta.n') AS BIGINT)" in got
    assert "get_json_object(j, '$.tags[1]')" in got
    spark.createDataFrame(
        [('{"name":"a","v":1.5,"meta":{"n":7},"tags":["x","y","z"]}',)], "j string"
    ).createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["nm"] == "a" and row["n"] == 7 and row["v"] == 1.5
    assert row["tag2"] == "y"
    assert row["has_meta"] is True and row["has_nope"] is False
    # CH JSONLength: array → elements, object → keys, scalar/missing → 0
    assert row["n_tags"] == 3 and row["n_keys"] == 4
    assert row["n_meta"] == 1 and row["n_scalar"] == 0
    assert row["n_tags"] == 3


def test_extract_regex_vs_ansi_extract(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    # a real ClickHouse user writes '\\d' — both CH and Spark lexers
    # process backslash escapes in string literals, so the literal passes
    # through unchanged and stays faithful
    got, _ = translate_ch_sql(
        "SELECT extract(name, 'id=(\\\\d+)') AS gid, "
        "extract(name, '\\\\d+') AS whole, "
        "extract(YEAR FROM ts) AS yr FROM t"
    )
    assert "regexp_extract(name, 'id=(\\\\d+)', 1)" in got
    assert "regexp_extract(name, '\\\\d+', 0)" in got
    assert "extract(YEAR FROM ts)" in got
    import datetime

    spark.createDataFrame(
        [("id=42x", datetime.datetime(2023, 3, 1))], "name string, ts timestamp"
    ).createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["gid"] == "42" and row["whole"] == "42" and row["yr"] == 2023


def test_split_by_string(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql("SELECT splitByString('::', name) AS parts FROM t")
    spark.createDataFrame([("a::b::c",)], "name string").createOrReplaceTempView("t")
    assert spark.sql(got).first()["parts"] == ["a", "b", "c"]


def test_null_helpers_and_identity_wrappers(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT isNull(a) AS isn, isNotNull(a) AS inn, "
        "assumeNotNull(a) AS an, toNullable(b) AS tn, materialize(b) AS mz FROM t"
    )
    assert "(a IS NULL)" in got and "(a IS NOT NULL)" in got
    spark.createDataFrame([(None, 5), ("x", 6)], "a string, b int") \
        .createOrReplaceTempView("t")
    rows = spark.sql(got).collect()
    assert [(r["isn"], r["inn"], r["tn"]) for r in rows] == [
        (True, False, 5), (False, True, 6)]


def test_bracket_literals_and_subscripts(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    # CH array subscripts are 1-based; Spark's native a[i] is 0-based —
    # the translator must emit element_at (1-based, and map-key access)
    got, _ = translate_ch_sql(
        "SELECT xs[1] AS first_el, xs[i] AS ith, [10, 20, 30] AS lit, "
        "splitByChar(',', s)[2] AS second_tok, "
        "has([1, 2], n) AS in_set, '[not] an array' AS strlit FROM t"
    )
    assert "element_at(xs, 1)" in got
    # unknown base + expression subscript: untouched (casting here would
    # silently break string-keyed map access m[k] — r9)
    assert "element_at(xs, i)" in got
    assert "array(10, 20, 30)" in got
    assert "element_at(split(s, ','), 2)" in got
    assert "'[not] an array'" in got
    spark.createDataFrame(
        [([7, 8, 9], 3, "a,b,c", 2)], "xs array<int>, i int, s string, n int"
    ).createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["first_el"] == 7 and row["ith"] == 9
    assert row["lit"] == [10, 20, 30]
    assert row["second_tok"] == "b" and row["in_set"] is True


def test_stats_aggregate_renames(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT varPop(v) AS vp, stddevSamp(v) AS ss, covarPop(v, w) AS cv, "
        "sumDistinct(n) AS sd, medianExact(n) AS med FROM t"
    )
    assert "var_pop(v)" in got and "stddev_samp(v)" in got
    assert "covar_pop(v, w)" in got and "sum(DISTINCT n)" in got
    assert "percentile(n, 0.5)" in got
    spark.createDataFrame(
        [(1.0, 2.0, 5), (3.0, 6.0, 5), (5.0, 10.0, 7)], "v double, w double, n int"
    ).createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert abs(row["vp"] - 8 / 3) < 1e-12 and row["sd"] == 12 and row["med"] == 5.0


def test_quantiles_combinator_plural(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT quantilesExact(0.25, 0.75)(n)[1] AS p25, "
        "quantilesExact(0.25, 0.75)(n)[2] AS p75 FROM t"
    )
    assert "percentile(n, array(0.25, 0.75))" in got
    spark.createDataFrame([(i,) for i in range(1, 6)], "n int") \
        .createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["p25"] == 2.0 and row["p75"] == 4.0


def test_interval_buckets(spark):
    import datetime

    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT toStartOfFiveMinutes(ts) AS b5, "
        "toStartOfInterval(ts, INTERVAL 90 SECOND) AS b90, "
        "toStartOfInterval(ts, INTERVAL 1 MONTH) AS bm FROM t"
    )
    assert "/ 300" in got and "/ 90" in got and "date_trunc('MONTH'" in got
    spark.createDataFrame(
        [(datetime.datetime(2024, 3, 15, 10, 7, 31),)], "ts timestamp"
    ).createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["b5"] == datetime.datetime(2024, 3, 15, 10, 5, 0)
    # 90 s buckets align to epoch multiples (CH toStartOfInterval likewise)
    assert row["b90"] == datetime.datetime(2024, 3, 15, 10, 7, 30)
    assert row["bm"] == datetime.datetime(2024, 3, 1, 0, 0, 0)


def test_url_functions(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT domain(u) AS d, path(u) AS p, protocol(u) AS pr, "
        "extractURLParameter(u, 'k') AS k FROM t"
    )
    # try_ forms only: Spark 4's parse_url THROWS on malformed rows where
    # every CH URL getter returns ''
    assert "try_parse_url(u, 'HOST')" in got
    assert "try_parse_url(u, 'QUERY', 'k')" in got
    assert "parse_url(u, 'HOST')" not in got.replace("try_parse_url", "")
    spark.createDataFrame(
        [("https://ex.org/a/b?k=v&z=1",), ("not a url at all",)], "u string"
    ).createOrReplaceTempView("t")
    rows = spark.sql(got).collect()  # malformed row must not abort
    row = rows[0]
    assert row["d"] == "ex.org" and row["p"] == "/a/b"
    assert row["pr"] == "https" and row["k"] == "v"
    assert tuple(rows[1]) == ("", "", "", "")  # CH: '' on invalid, not NULL


def test_float_classification(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT isNaN(v) AS nan, isFinite(v) AS fin, isInfinite(v) AS inf, "
        "ifNotFinite(v, -1.0) AS safe FROM t"
    )
    spark.createDataFrame(
        [(1.5,), (float("nan"),), (float("inf"),)], "v double"
    ).createOrReplaceTempView("t")
    rows = spark.sql(got + " ORDER BY nan, inf").collect()
    assert [(r["nan"], r["fin"], r["inf"], r["safe"]) for r in rows] == [
        (False, True, False, 1.5),
        (False, False, True, -1.0),
        (True, False, False, -1.0),
    ]


def test_array_helpers_batch2(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT arrayUniq(xs) AS u, countEqual(xs, 2) AS ce, arrayAvg(xs) AS av, "
        "arrayDifference(xs) AS ad, range(4) AS r1, range(2, 5) AS r2, "
        "arraySlice(xs, 2, 2) AS sl FROM t"
    )
    spark.createDataFrame([([1, 2, 2, 5],)], "xs array<int>") \
        .createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["u"] == 3 and row["ce"] == 2 and row["av"] == 2.5
    assert row["ad"] == [0, 1, 0, 3]
    assert row["r1"] == [0, 1, 2, 3] and row["r2"] == [2, 3, 4]
    assert row["sl"] == [2, 2]


def test_limit_by_clause(spark):
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    got, _ = translate_ch_sql(
        "SELECT g, v FROM t ORDER BY v DESC, g LIMIT 2 BY g LIMIT 3"
    )
    assert "row_number() OVER (PARTITION BY g ORDER BY v DESC, g)" in got
    assert got.rstrip().endswith("LIMIT 3")
    spark.createDataFrame(
        [("a", 5), ("a", 4), ("a", 3), ("b", 9), ("b", 1)], "g string, v int"
    ).createOrReplaceTempView("t")
    rows = [(r["g"], r["v"]) for r in spark.sql(got).collect()]
    assert rows == [("b", 9), ("a", 5), ("a", 4)]  # top-2 per g, outer LIMIT 3

    # LIMIT BY without ORDER BY is nondeterministic in CH — refuse loudly
    import pytest as _pytest

    with _pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT g, v FROM t LIMIT 2 BY g")


def test_global_modifier_and_with_totals(spark):
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    got, notes = translate_ch_sql(
        "SELECT a.g, count(*) AS n FROM t a GLOBAL LEFT JOIN u b ON a.g = b.g "
        "GROUP BY a.g WITH TOTALS"
    )
    assert "GLOBAL" not in got
    assert "GROUP BY GROUPING SETS ((a.g), ())" in got
    assert any("GLOBAL" in n for n in notes) and any("TOTALS" in n for n in notes)
    spark.createDataFrame([("x",), ("x",), ("y",)], "g string") \
        .createOrReplaceTempView("t")
    spark.createDataFrame([("x",), ("y",)], "g string").createOrReplaceTempView("u")
    rows = {(r["g"], r["n"]) for r in spark.sql(got).collect()}
    assert rows == {("x", 2), ("y", 1), (None, 3)}  # totals row: NULL key

    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT * FROM t ANY LEFT JOIN u ON t.g = u.g")
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT g FROM t WITH TOTALS")


def test_if_combinator_extensions(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT anyIf(v, g = 'a') AS a1, uniqExactIf(v, v > 1) AS u, "
        "quantileTDigest(0.5)(v) AS qt FROM t"
    )
    assert "first(v) FILTER (WHERE g = 'a')" in got
    assert "count(DISTINCT v) FILTER (WHERE v > 1)" in got
    assert "percentile_approx(v, 0.5)" in got
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 2), ("b", 3)], "g string, v int"
    ).createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["a1"] == 1 and row["u"] == 2


def test_array_join_clause(spark):
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    got, _ = translate_ch_sql(
        "SELECT g, x FROM t ARRAY JOIN xs AS x WHERE x > 1 ORDER BY g, x"
    )
    assert "LATERAL VIEW explode(xs) __aj_x AS x" in got
    spark.createDataFrame(
        [("a", [1, 2]), ("b", [3]), ("c", [])], "g string, xs array<int>"
    ).createOrReplaceTempView("t")
    rows = [(r["g"], r["x"]) for r in spark.sql(got).collect()]
    assert rows == [("a", 2), ("b", 3)]

    # LEFT ARRAY JOIN keeps empty-array rows (explode_outer)
    got2, _ = translate_ch_sql("SELECT g, x FROM t LEFT ARRAY JOIN xs AS x ORDER BY g, x")
    assert "explode_outer(xs)" in got2
    rows2 = [(r["g"], r["x"]) for r in spark.sql(got2).collect()]
    assert ("c", None) in rows2 and len(rows2) == 4

    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT g, xs FROM t ARRAY JOIN xs")  # no alias
    # multi-array form zips element-wise (r6) — see
    # test_multi_array_join_zips_elementwise; alias-less multi still refuses
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT * FROM t ARRAY JOIN xs AS x, ys")


def test_asof_join_redirects():
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    with pytest.raises(ChTranslationError, match="asof_join"):
        translate_ch_sql(
            "SELECT * FROM e ASOF JOIN r ON e.id = r.id AND e.ts >= r.ts"
        )


def test_settings_and_format_clauses_stripped():
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, notes = translate_ch_sql(
        "SELECT count(*) FROM events WHERE value > 0 "
        "SETTINGS max_threads = 4, max_memory_usage = 10000000 FORMAT JSON"
    )
    assert "SETTINGS" not in got and "FORMAT" not in got
    assert got.strip().endswith("WHERE value > 0")
    assert any("SETTINGS" in n for n in notes)

    got2, notes2 = translate_ch_sql("SELECT 1 FORMAT TabSeparated")
    assert got2.strip() == "SELECT 1"
    assert any("FORMAT" in n for n in notes2)

    # date_format() and similar function names must not be eaten
    got3, _ = translate_ch_sql("SELECT formatDateTime(ts, '%Y') FROM events")
    assert "date_format(ts" in got3


def test_uniq_up_to(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql("SELECT uniqUpTo(3)(v) AS u FROM t")
    assert "LEAST(count(DISTINCT v), 4)" in got
    spark.createDataFrame([(i % 6,) for i in range(20)], "v int") \
        .createOrReplaceTempView("t")
    assert spark.sql(got).first()["u"] == 4  # 6 distinct > N=3 → pinned at 4


def test_cli_query_mode(capsys):
    """`python -m clickhouse_sinker_spark --query ...` — the
    clickhouse-client seam: CH SQL over a parquet dir, CSV out."""
    from clickhouse_sinker_spark.__main__ import main

    main([
        "--query",
        "SELECT event_type, count(*) AS n FROM events "
        "WHERE user_id < 50 GROUP BY event_type ORDER BY n DESC LIMIT 2",
        "--data-dir", SF_DIR,
        "--query-format", "csv",
        "--master", "local[4]",
    ])
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "event_type,n"
    assert len(out) == 3 and all("," in l for l in out[1:])


def test_range_and_array_difference_empty_inputs(spark):
    """Review findings: Spark sequence() auto-descends when start > stop,
    so empty CH ranges/arrays must not fabricate [0, -1]-style elements."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT range(n) AS r, range(a, b) AS r2, arrayDifference(xs) AS d FROM t"
    )
    spark.createDataFrame(
        [(0, 5, 5, []), (3, 2, 5, [4, 7])],
        "n int, a int, b int, xs array<int>",
    ).createOrReplaceTempView("t")
    rows = spark.sql(got + " ORDER BY n").collect()
    assert rows[0]["r"] == [] and rows[0]["r2"] == [] and rows[0]["d"] == []
    assert rows[1]["r"] == [0, 1, 2]
    assert rows[1]["r2"] == [2, 3, 4] and rows[1]["d"] == [0, 3]


def test_global_strip_is_string_aware():
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT 'uses GLOBAL JOIN hint' AS lit FROM a GLOBAL LEFT JOIN b ON a.k = b.k"
    )
    assert "'uses GLOBAL JOIN hint'" in got  # literal untouched
    assert "FROM a LEFT JOIN b" in got  # real modifier stripped

    # literals mentioning ASOF/ANY JOIN must not trigger the refusals
    got2, _ = translate_ch_sql("SELECT 'try ASOF JOIN or ANY LEFT JOIN' AS s FROM t")
    assert "ASOF JOIN" in got2


def test_array_join_followed_by_regular_join(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT t.g AS g, x, lbl FROM t ARRAY JOIN xs AS x "
        "INNER JOIN u ON t.g = u.g WHERE x > 0"
    )
    # Spark's FROM grammar wants lateral views AFTER join clauses
    assert got.index("INNER JOIN u") < got.index("LATERAL VIEW explode(xs) __aj_x AS x")
    spark.createDataFrame([("a", [1, 2])], "g string, xs array<int>") \
        .createOrReplaceTempView("t")
    spark.createDataFrame([("a", "L")], "g string, lbl string") \
        .createOrReplaceTempView("u")
    rows = [(r["g"], r["x"], r["lbl"]) for r in spark.sql(got).collect()]
    assert sorted(rows) == [("a", 1, "L"), ("a", 2, "L")]


def test_limit_by_unselected_column_raises():
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    # plain projection: ORDER BY over an unselected table column is valid
    # ClickHouse and now supported — the window is injected into the
    # original SELECT scope where `value` resolves
    got, _ = translate_ch_sql(
        "SELECT event_type, event_id FROM events "
        "ORDER BY value DESC LIMIT 2 BY event_type"
    )
    assert "row_number()" in got and "__ord0" in got
    # aggregated shape: the subquery wrap can only reach SELECT-list
    # columns, so an unselected reference is still a loud refusal
    with pytest.raises(ChTranslationError, match="not in the SELECT list"):
        translate_ch_sql(
            "SELECT event_type, count(*) AS c FROM events GROUP BY event_type "
            "ORDER BY value DESC LIMIT 2 BY event_type"
        )
    # SELECT * exposes every column — no false refusal
    got2, _ = translate_ch_sql(
        "SELECT * FROM events ORDER BY value DESC LIMIT 2 BY event_type"
    )
    assert "row_number()" in got2


def test_uniq_up_to_non_literal_raises():
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    with pytest.raises(ChTranslationError, match="integer literal"):
        translate_ch_sql("SELECT uniqUpTo(k)(v) FROM t")


def test_limit_by_with_offset(spark):
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    got, _ = translate_ch_sql(
        "SELECT g, v FROM t ORDER BY v DESC, g LIMIT 1, 2 BY g"
    )
    assert "__rn BETWEEN 2 AND 3" in got
    spark.createDataFrame(
        [("a", 5), ("a", 4), ("a", 3), ("b", 9)], "g string, v int"
    ).createOrReplaceTempView("t")
    rows = sorted((r["g"], r["v"]) for r in spark.sql(got).collect())
    assert rows == [("a", 4), ("a", 3)][::-1]  # skip top-1 per group

    # the simple trailing WITH FILL form now TRANSLATES (r7); only the
    # non-simple forms still point at the native gap-fill plan
    got_fill, notes_fill = translate_ch_sql(
        "SELECT t, v FROM m ORDER BY t WITH FILL FROM 0 TO 10"
    )
    assert "sequence(" in got_fill and any("WITH FILL" in n for n in notes_fill)
    # bare-column INTERPOLATE now TRANSLATES too (late r7); only the
    # expression form still points at the native gap-fill plan
    got_int, _ = translate_ch_sql(
        "SELECT t, v FROM m ORDER BY t WITH FILL INTERPOLATE (v)"
    )
    assert "last(" in got_int and "__filler" in got_int
    with pytest.raises(ChTranslationError, match="bare column"):
        translate_ch_sql(
            "SELECT t, v FROM m ORDER BY t WITH FILL INTERPOLATE (v AS v * 2)"
        )


def test_string_and_array_helpers_batch3(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT toStartOfSecond(ts) AS s, positionCaseInsensitive(h, 'AB') AS p, "
        "countMatches(h, 'a.') AS cm, countSubstrings(h, 'ab') AS cs, "
        "replaceRegexpAll(h, '[0-9]+', '#') AS rr, reverseUTF8(h) AS rev, "
        "arrayPushBack(xs, 9) AS pb, arrayPushFront(xs, 0) AS pf, "
        "arrayPopBack(xs) AS ob, arrayPopFront(xs) AS of_ FROM t"
    )
    import datetime
    spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 1, 2, 3, 500000), "xAB1ab2ab", [1, 2, 3])],
        "ts timestamp, h string, xs array<int>",
    ).createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert row["s"] == datetime.datetime(2024, 1, 1, 1, 2, 3)
    assert row["p"] == 2 and row["cm"] == 2 and row["cs"] == 2
    assert row["rr"] == "xAB#ab#ab" and row["rev"] == "ba2ba1BAx"
    assert row["pb"] == [1, 2, 3, 9] and row["pf"] == [0, 1, 2, 3]
    assert row["ob"] == [1, 2] and row["of_"] == [2, 3]


def test_limit_with_ties(spark):
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    got, _ = translate_ch_sql("SELECT g, v FROM t ORDER BY v LIMIT 3 WITH TIES")
    assert "rank() OVER (ORDER BY v)" in got and "__rn <= 3" in got
    spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 2), ("e", 3)], "g string, v int"
    ).createOrReplaceTempView("t")
    rows = sorted(r["g"] for r in spark.sql(got).collect())
    assert rows == ["a", "b", "c", "d"]  # the 3rd row's tie (v=2) extends the cut

    with pytest.raises(ChTranslationError, match="ORDER BY"):
        translate_ch_sql("SELECT g FROM t LIMIT 3 WITH TIES")


def test_arithmetic_function_aliases(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT plus(a, 2) AS p, minus(a, b) AS m, multiply(a, b) AS x, "
        "divide(a, 2) AS d, negate(b) AS neg, "
        "intDivOrZero(a, b - b) AS z, moduloOrZero(a, b - b) AS mz, "
        "intDivOrZero(a, b) AS iz FROM t"
    )
    spark.createDataFrame([(10, 4)], "a int, b int").createOrReplaceTempView("t")
    row = spark.sql(got).first()
    assert (row["p"], row["m"], row["x"], row["d"], row["neg"]) == (12, 6, 40, 5.0, -4)
    assert row["z"] == 0 and row["mz"] == 0 and row["iz"] == 2


def test_to_datetime64_scale_dropped(spark):
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    # CH's second argument is a precision SCALE, not a Spark format string:
    # it must be dropped, never forwarded to to_timestamp (advice r5)
    got, _ = translate_ch_sql(
        "SELECT toDateTime64('2024-03-01 10:00:00', 3) AS ts"
    )
    assert "to_timestamp(" not in got or ", 3" not in got
    row = spark.sql(got).first()
    assert str(row["ts"]).startswith("2024-03-01 10:00:00")
    # 1-arg lenient form also casts
    got1, _ = translate_ch_sql("SELECT toDateTime64('2024-03-01 10:00:00') AS ts")
    assert spark.sql(got1).first()["ts"] is not None
    # timezone form: refuse loudly, not an arity error at the engine
    with pytest.raises(ChTranslationError, match="timezone"):
        translate_ch_sql(
            "SELECT toDateTime64('2024-03-01 10:00:00', 3, 'UTC') AS ts"
        )


def test_global_not_in_stripped(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, notes = translate_ch_sql(
        "SELECT g FROM t WHERE g GLOBAL NOT IN (SELECT g FROM t WHERE v > 5)"
    )
    assert "GLOBAL" not in got
    assert any("GLOBAL" in n for n in notes)
    spark.createDataFrame(
        [("a", 9), ("b", 1)], "g string, v int"
    ).createOrReplaceTempView("t")
    assert [r["g"] for r in spark.sql(got).collect()] == ["b"]


def test_limit_by_function_args_and_qualifiers(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    # abs(v): 'v' is a function argument, not a required output column —
    # must not trip the membership check (advice r5 false positive)
    got, _ = translate_ch_sql(
        "SELECT g, abs(v) AS a FROM t ORDER BY abs(v) DESC LIMIT 1 BY g"
    )
    spark.createDataFrame(
        [("a", -5), ("a", 3), ("b", 2)], "g string, v int"
    ).createOrReplaceTempView("t")
    rows = sorted((r["g"], r["a"]) for r in spark.sql(got).collect())
    assert rows == [("a", 5), ("b", 2)]

    # t.col qualifier: collapsed to the bare name so it resolves through
    # the __q subquery alias
    got2, _ = translate_ch_sql(
        "SELECT g, v FROM t ORDER BY t.v DESC LIMIT 1 BY t.g"
    )
    rows2 = sorted((r["g"], r["v"]) for r in spark.sql(got2).collect())
    assert rows2 == [("a", 3), ("b", 2)]


def test_final_rewrite_merge_on_read(spark):
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    keys = {"t": (["k"], ["ver", "uid"])}
    got, notes = translate_ch_sql("SELECT k, v FROM t FINAL", table_keys=keys)
    assert "row_number() OVER (PARTITION BY k ORDER BY ver DESC, uid DESC)" in got
    assert any("newest-version" in n for n in notes)
    spark.createDataFrame(
        [("a", 1, 10, "old"), ("a", 2, 11, "new"), ("b", 1, 12, "only")],
        "k string, ver int, uid int, v string",
    ).createOrReplaceTempView("t")
    rows = sorted((r["k"], r["v"]) for r in spark.sql(got).collect())
    assert rows == [("a", "new"), ("b", "only")]

    # alias form keeps the alias usable
    got2, _ = translate_ch_sql(
        "SELECT x.k FROM t AS x FINAL WHERE x.ver > 0", table_keys=keys
    )
    assert sorted(r["k"] for r in spark.sql(got2).collect()) == ["a", "b"]

    # unconfigured table: loud refusal with guidance
    with pytest.raises(ChTranslationError, match="sorting key"):
        translate_ch_sql("SELECT * FROM u FINAL", table_keys=keys)
    # configured but no version columns: refuse (nondeterministic survivor)
    with pytest.raises(ChTranslationError, match="version"):
        translate_ch_sql(
            "SELECT * FROM t FINAL", table_keys={"t": (["k"], [])}
        )
    # no table_keys at all: legacy strip-with-note
    got3, notes3 = translate_ch_sql("SELECT k FROM t FINAL")
    assert "FINAL" not in got3 and any("stripped" in n for n in notes3)


def _funnel_view(spark, rows):
    spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string"
    ).createOrReplaceTempView("t")


def test_window_funnel_modes(spark):
    """windowFunnel default / strict_order / strict_deduplication — CH
    chain semantics (AggregateFunctionWindowFunnel.h) via a JVM-side
    aggregate() fold; hand-computed expectations."""
    import datetime as dt

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    T0 = dt.datetime(2024, 1, 1)
    mins = lambda m: T0 + dt.timedelta(minutes=m)

    got, _ = translate_ch_sql(
        "SELECT user_id, windowFunnel(3600)(ts, event_type = 'a', "
        "event_type = 'b', event_type = 'c') AS lvl FROM t GROUP BY user_id"
    )
    _funnel_view(spark, [
        (1, mins(0), 'a'), (1, mins(10), 'b'), (1, mins(20), 'c'),  # full chain
        (2, mins(0), 'a'), (2, mins(30), 'b'), (2, mins(90), 'c'),  # c outside W
        (3, mins(0), 'b'), (3, mins(5), 'a'),                       # b before a
        (4, mins(0), 'b'), (4, mins(0), 'c'),                       # never starts
        (5, mins(0), 'a'), (5, mins(40), 'a'), (5, mins(70), 'b'),  # restart helps
    ])
    out = {r["user_id"]: r["lvl"] for r in spark.sql(got).collect()}
    assert out == {1: 3, 2: 2, 3: 1, 4: 0, 5: 2}

    got2, _ = translate_ch_sql(
        "SELECT user_id, windowFunnel(3600, 'strict_order')(ts, "
        "event_type = 'a', event_type = 'b') AS lvl FROM t GROUP BY user_id"
    )
    _funnel_view(spark, [
        (1, mins(0), 'a'), (1, mins(1), 'x'), (1, mins(2), 'b'),  # x interrupts
        (2, mins(0), 'a'), (2, mins(2), 'b'), (2, mins(3), 'x'),  # done before x
    ])
    out2 = {r["user_id"]: r["lvl"] for r in spark.sql(got2).collect()}
    assert out2 == {1: 1, 2: 2}

    got3, _ = translate_ch_sql(
        "SELECT user_id, windowFunnel(3600, 'strict_deduplication')(ts, "
        "event_type = 'a', event_type = 'b') AS lvl FROM t GROUP BY user_id"
    )
    _funnel_view(spark, [
        (1, mins(0), 'a'), (1, mins(1), 'a'), (1, mins(2), 'b'),  # repeat stops
        (2, mins(0), 'a'), (2, mins(2), 'b'),
    ])
    out3 = {r["user_id"]: r["lvl"] for r in spark.sql(got3).collect()}
    assert out3 == {1: 1, 2: 2}

    with pytest.raises(ChTranslationError, match="mode"):
        translate_ch_sql(
            "SELECT windowFunnel(60, 'strictly_whatever')(ts, x = 1) FROM t"
        )
    with pytest.raises(ChTranslationError, match="combinator"):
        translate_ch_sql("SELECT windowFunnel(ts, x = 1) FROM t")


def test_window_funnel_strict_increase(spark):
    """strict_increase (AggregateFunctionWindowFunnel.h): a step advances
    only when its timestamp STRICTLY exceeds the previous level's last
    event — same-timestamp steps stall the chain."""
    import datetime as dt

    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    T0 = dt.datetime(2024, 1, 1)
    mins = lambda m: T0 + dt.timedelta(minutes=m)
    got, _ = translate_ch_sql(
        "SELECT user_id, windowFunnel(3600, 'strict_increase')(ts, "
        "event_type = 'a', event_type = 'b', event_type = 'c') AS lvl "
        "FROM t GROUP BY user_id"
    )
    _funnel_view(spark, [
        (1, mins(0), 'a'), (1, mins(0), 'b'), (1, mins(5), 'c'),  # b same-ts as a
        (2, mins(0), 'a'), (2, mins(1), 'b'), (2, mins(2), 'c'),  # increasing
        (3, mins(0), 'a'), (3, mins(1), 'b'), (3, mins(1), 'c'),  # c same-ts as b
    ])
    out = {r["user_id"]: r["lvl"] for r in spark.sql(got).collect()}
    assert out == {1: 1, 2: 3, 3: 2}
    # default mode: same-timestamp steps DO advance (tie-break by cond idx)
    got2, _ = translate_ch_sql(
        "SELECT user_id, windowFunnel(3600)(ts, event_type = 'a', "
        "event_type = 'b', event_type = 'c') AS lvl FROM t GROUP BY user_id"
    )
    out2 = {r["user_id"]: r["lvl"] for r in spark.sql(got2).collect()}
    assert out2 == {1: 3, 2: 3, 3: 3}


def test_window_funnel_condition_order_exact(spark):
    """Overlapping conditions — CH expands each event into one entry per
    matched condition and applies them IN CONDITION ORDER, so a single
    event matching step i and step i+1 climbs both levels (the r6
    simultaneous-update delta, now closed)."""
    import datetime as dt

    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    T0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, T0, 5), (2, T0, 1), (2, T0 + dt.timedelta(minutes=1), 5)],
        "user_id int, ts timestamp, v int",
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql(
        "SELECT user_id, windowFunnel(3600)(ts, v >= 1, v >= 2, v >= 10) "
        "AS lvl FROM t GROUP BY user_id"
    )
    out = {r["user_id"]: r["lvl"] for r in spark.sql(got).collect()}
    # user 1: one event v=5 matches steps 1 AND 2 → level 2 in one event
    # user 2: v=1 opens, v=5 matches steps 1,2: step-1 entry REOPENS the
    # chain at t1, then its own step-2 entry chains off it → level 2
    assert out == {1: 2, 2: 2}


def test_retention_aggregate(spark):
    import datetime as dt

    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT user_id, retention(event_type = 'a', event_type = 'b', "
        "event_type = 'z') AS r FROM t GROUP BY user_id"
    )
    T0 = dt.datetime(2024, 1, 1)
    _funnel_view(spark, [
        (1, T0, 'a'), (1, T0, 'b'),
        (2, T0, 'b'), (2, T0, 'z'),  # no cond1 → all zero
    ])
    out = {r["user_id"]: list(r["r"]) for r in spark.sql(got).collect()}
    assert out == {1: [1, 1, 0], 2: [0, 0, 0]}


def test_empty_on_bare_array_column_catalog_aware(spark):
    """A bare array COLUMN under empty()/notEmpty() cannot be typed from
    text alone — the catalog context (spark_array_columns) supplies it, so
    the translation emits size() instead of the string-only length()."""
    from clickhouse_sinker_spark.functions.chdialect import (
        spark_array_columns,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [(1, ["a"], "x"), (2, [], "")],
        "id int, tags array<string>, name string",
    ).createOrReplaceTempView("t")
    cols = spark_array_columns(spark, ["t"])
    assert cols == frozenset({"tags"})
    got, _ = translate_ch_sql(
        "SELECT id, empty(tags) AS no_tags, empty(name) AS no_name FROM t",
        array_columns=cols,
    )
    assert "(size(tags) = 0)" in got and "(octet_length(name) = 0)" in got
    out = {r["id"]: (r["no_tags"], r["no_name"]) for r in spark.sql(got).collect()}
    assert out == {1: (False, False), 2: (True, True)}
    # context resets between calls — without the catalog, back to length()
    got2, _ = translate_ch_sql("SELECT empty(tags) FROM t")
    assert "length(tags)" in got2


def test_sequence_match_and_count(spark):
    """sequenceMatch/sequenceCount — the documented pattern subset as a
    regex over the per-group event string.  Expectations mirror the
    ClickHouse docs example: events NOT matching any condition are
    excluded, bare adjacency is strict in what remains."""
    import datetime as dt

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    T0 = dt.datetime(2024, 1, 1)
    m = lambda x: T0 + dt.timedelta(minutes=x)
    spark.createDataFrame(
        [(1, m(0), 1), (1, m(1), 3), (1, m(2), 2),
         (2, m(0), 1), (2, m(1), 2), (2, m(2), 1), (2, m(3), 2)],
        "user_id int, ts timestamp, v int",
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql(
        "SELECT user_id, "
        "sequenceMatch('(?1)(?2)')(ts, v = 1, v = 2, v = 3) AS m, "
        "sequenceMatch('(?1).*(?2)')(ts, v = 1, v = 2, v = 3) AS m2, "
        "sequenceCount('(?1)(?2)')(ts, v = 1, v = 2) AS c "
        "FROM t GROUP BY user_id"
    )
    out = {r["user_id"]: (r["m"], r["m2"], r["c"]) for r in spark.sql(got).collect()}
    # user 1 = the CH docs case: 1,3,2 — strict (?1)(?2) fails (3 sits
    # between), (?1).*(?2) matches; with only (v=1,v=2) conditions the 3
    # is excluded so the count query sees "ab" once
    assert out == {1: (0, 1, 1), 2: (1, 1, 2)}

    # overlapping conditions: loud runtime raise, never a silent answer
    got2, _ = translate_ch_sql(
        "SELECT sequenceMatch('(?1)(?2)')(ts, v >= 1, v >= 2) AS m FROM t"
    )
    with pytest.raises(Exception, match="mutually exclusive"):
        spark.sql(got2).collect()

    # malformed atoms refuse at translation time
    with pytest.raises(ChTranslationError, match="out of range"):
        translate_ch_sql("SELECT sequenceMatch('(?3)')(ts, a, b) FROM t")
    with pytest.raises(ChTranslationError, match="combinator"):
        translate_ch_sql("SELECT sequenceMatch(ts, a) FROM t")


def test_sequence_match_time_constraints(spark):
    """``(?t OP N)`` time constraints (the r6 refusal, now translated):
    gap thresholds become monotone marker characters between consecutive
    kept events, and each constraint a marker segment in the regex.
    Expectations hand-computed from the documented CH grammar."""
    import datetime as dt

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    T0 = dt.datetime(2024, 1, 1)
    s = lambda x: T0 + dt.timedelta(seconds=x)
    spark.createDataFrame(
        [
            (1, s(0), 1), (1, s(1000), 2),                  # gap 1000 s
            (2, s(0), 1), (2, s(5000), 2),                  # gap 5000 s
            (3, s(0), 1), (3, s(60), 2),                    # gap == 60 s
            (4, s(0), 1), (4, s(10), 3), (4, s(20), 2),     # excluded 3 between
        ],
        "user_id int, ts timestamp, v int",
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql(
        "SELECT user_id, "
        "sequenceMatch('(?1)(?t<=3600)(?2)')(ts, v = 1, v = 2) AS le, "
        "sequenceMatch('(?1)(?t>1800)(?2)')(ts, v = 1, v = 2) AS gt, "
        "sequenceMatch('(?1)(?t==60)(?2)')(ts, v = 1, v = 2) AS eq, "
        "sequenceMatch('(?1)(?t>=1000)(?2)')(ts, v = 1, v = 2) AS ge, "
        "sequenceMatch('(?1)(?t<60)(?2)')(ts, v = 1, v = 2) AS lt "
        "FROM t GROUP BY user_id"
    )
    out = {
        r["user_id"]: (r["le"], r["gt"], r["eq"], r["ge"], r["lt"])
        for r in spark.sql(got).collect()
    }
    # user 4: the v=3 event matches no condition → excluded; the kept
    # events (1@0, 2@20) are adjacent with gap 20
    assert out == {
        1: (1, 0, 0, 1, 0),
        2: (0, 1, 0, 1, 0),
        3: (1, 0, 1, 0, 0),
        4: (1, 0, 0, 0, 1),
    }
    # sequenceCount composes with the same machinery
    got2, _ = translate_ch_sql(
        "SELECT user_id, sequenceCount('(?1)(?t<=100)(?2)')(ts, v = 1, v = 2) "
        "AS c FROM t GROUP BY user_id"
    )
    out2 = {r["user_id"]: r["c"] for r in spark.sql(got2).collect()}
    assert out2 == {1: 0, 2: 0, 3: 1, 4: 1}
    # constraints must sit between two event atoms; != is disjunctive
    with pytest.raises(ChTranslationError, match="between two event atoms"):
        translate_ch_sql("SELECT sequenceMatch('(?t<=36)(?2)')(ts, a, b) FROM t")
    with pytest.raises(ChTranslationError, match="between two event atoms"):
        translate_ch_sql("SELECT sequenceMatch('(?1)(?t<=36).*(?2)')(ts, a, b) FROM t")
    with pytest.raises(ChTranslationError, match="not supported"):
        translate_ch_sql("SELECT sequenceMatch('(?1)(?t!=36)(?2)')(ts, a, b) FROM t")


def test_sample_clause_and_uniq_combined(spark):
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    got, notes = translate_ch_sql("SELECT count(*) AS n FROM t SAMPLE 0.1")
    assert "TABLESAMPLE (10 PERCENT)" in got and any("SAMPLE" in n for n in notes)
    got2, _ = translate_ch_sql("SELECT count(*) AS n FROM t SAMPLE 1/10")
    assert "TABLESAMPLE (10 PERCENT)" in got2
    got3, notes3 = translate_ch_sql("SELECT count(*) AS n FROM t SAMPLE 50")
    assert "TABLESAMPLE (50 ROWS)" in got3
    # the ROWS branch performs NO sampling — the note must say so
    assert any("DETERMINISTIC first-N prefix" in n for n in notes3)
    with pytest.raises(ChTranslationError, match="OFFSET"):
        translate_ch_sql("SELECT 1 FROM t SAMPLE 0.1 OFFSET 0.5")

    spark.createDataFrame(
        [(i,) for i in range(100)], "user_id int"
    ).createOrReplaceTempView("t")
    assert spark.sql(got3).first()["n"] == 50  # ROWS cap is exact
    assert 0 <= spark.sql(got).first()["n"] <= 100  # Bernoulli: bounded only

    got4, _ = translate_ch_sql(
        "SELECT uniqCombined(user_id) AS u, uniqCombined64(user_id) AS u2 FROM t"
    )
    assert got4.count("approx_count_distinct") == 2
    r = spark.sql(got4).first()  # HLL++ sketch: approximate by design
    assert 95 <= r["u"] <= 105 and 95 <= r["u2"] <= 105


def test_multi_array_join_zips_elementwise(spark):
    """ARRAY JOIN xs AS x, ys AS y — CH pairs arrays element-wise: the
    rewrite posexplodes the first array and binds each further alias via
    element_at at the shared position (never a cartesian)."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    spark.createDataFrame(
        [(1, [1, 2, 3], ["a", "b", "c"]), (2, [5], ["z"])],
        "id int, xs array<int>, ys array<string>",
    ).createOrReplaceTempView("zt")
    got, _ = translate_ch_sql(
        "SELECT id, x, y FROM zt ARRAY JOIN xs AS x, ys AS y WHERE x > 0"
    )
    rows = sorted((r["id"], r["x"], r["y"]) for r in spark.sql(got).collect())
    assert rows == [(1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (2, 5, "z")]

    spark.createDataFrame(
        [(1, [], []), (2, [7], ["q"])], "id int, xs array<int>, ys array<string>"
    ).createOrReplaceTempView("zt2")
    got2, _ = translate_ch_sql(
        "SELECT id, x, y FROM zt2 LEFT ARRAY JOIN xs AS x, ys AS y"
    )
    rows2 = sorted((r["id"], r["x"], r["y"]) for r in spark.sql(got2).collect())
    assert rows2 == [(1, None, None), (2, 7, "q")]


def test_array_helpers_batch3(spark):
    """r6 array-family additions: compact/cumsum/reduce/resize/intersect/
    with-constant/splitByRegexp — all let-bound via the one-element
    transform trick so array EXPRESSIONS evaluate once."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [(1, [1, 1, 2, 2, 3, 1], "a b,c")], "id int, xs array<int>, s string"
    ).createOrReplaceTempView("ah3")
    got, _ = translate_ch_sql(
        "SELECT arrayCompact(xs) AS compact, arrayCumSum(xs) AS cum, "
        "arrayReduce('sum', xs) AS rsum, arrayReduce('avg', xs) AS ravg, "
        "arrayResize(xs, 3) AS cut, arrayResize(xs, 8, 0) AS pad, "
        "arrayIntersect(xs, [1, 3, 9]) AS inter, "
        "arrayWithConstant(3, 7) AS rep, "
        "splitByRegexp('[ ,]', s) AS toks FROM ah3"
    )
    r = spark.sql(got).first()
    assert r["compact"] == [1, 2, 3, 1]
    assert r["cum"] == [1, 2, 4, 6, 9, 10]
    assert r["rsum"] == 10.0 and abs(r["ravg"] - 10.0 / 6) < 1e-12
    assert r["cut"] == [1, 1, 2] and r["pad"] == [1, 1, 2, 2, 3, 1, 0, 0]
    assert sorted(r["inter"]) == [1, 3] and r["rep"] == [7, 7, 7]
    assert r["toks"] == ["a", "b", "c"]

    # 2-arg resize can only truncate; extending demands the fill arg (loud)
    got2, _ = translate_ch_sql("SELECT arrayResize(xs, 99) AS x FROM ah3")
    with pytest.raises(Exception, match="fill argument"):
        spark.sql(got2).collect()
    with pytest.raises(ChTranslationError, match="unsupported"):
        translate_ch_sql("SELECT arrayReduce('quantile(0.5)', xs) FROM ah3")

    # arrayReduceInRanges (r9): CH docs example + end-clipping + the
    # empty-range 0-count; literal (start, len) pairs only; min/max/any
    # refuse (empty-range CH default 0 vs Spark NULL)
    got3, _ = translate_ch_sql(
        "SELECT arrayReduceInRanges('sum', [(1, 5), (3, 2)],"
        " [1, 2, 3, 4, 5]) AS s,"
        " arrayReduceInRanges('count', [(2, 99), (9, 4)], [1, 2, 3]) AS c"
        " FROM ah3"
    )
    r3 = spark.sql(got3).first()
    assert r3["s"] == [15.0, 7.0] and r3["c"] == [2, 0]
    for bad in (
        "arrayReduceInRanges('min', [(1, 2)], xs)",
        "arrayReduceInRanges('sum', rng, xs)",
        "arrayReduceInRanges('sum', [(1, 2, 3)], xs)",
    ):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(f"SELECT {bad} FROM ah3")


def test_calendar_map_geo_functions(spark):
    import datetime as dt

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [(dt.datetime(2024, 4, 10, 15, 30, 45), {"a": 1, "b": 2},
          "http://www.example.com/x")],
        "ts timestamp, m map<string,int>, url string",
    ).createOrReplaceTempView("cal")
    got, _ = translate_ch_sql(
        "SELECT mapKeys(m) AS ks, mapContains(m, 'a') AS has_a, "
        "monthName(ts) AS mn, dateName('weekday', ts) AS wd, "
        "toISOWeek(ts) AS iw, toStartOfWeek(ts) AS sun0, "
        "toStartOfWeek(ts, 1) AS mon1, toRelativeHourNum(ts) AS rh, "
        "domainWithoutWWW(url) AS dom, "
        "greatCircleDistance(-86.5, 38.8, -77.1, 38.9) AS gcd FROM cal"
    )
    r = spark.sql(got).first()
    assert sorted(r["ks"]) == ["a", "b"] and r["has_a"]
    assert r["mn"] == "April" and r["wd"] == "Wednesday" and r["iw"] == 15
    # CH default week mode 0 = SUNDAY start; mode 1 = Monday
    assert str(r["sun0"]) == "2024-04-07" and str(r["mon1"]) == "2024-04-08"
    assert r["rh"] == 475767 and r["dom"] == "example.com"
    assert abs(r["gcd"] - 810000) < 10000  # CH docs example distance
    with pytest.raises(ChTranslationError, match="week"):
        translate_ch_sql("SELECT dateName('week', ts) FROM cal")


def test_literal_reescape_regex_compat(spark):
    r"""CH keeps the backslash for unknown escapes ('\d' IS backslash-d);
    Spark drops it — the re-escape pass makes CH-style regex literals run
    correctly, while shared escapes and pre-doubled backslashes pass
    through untouched."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    spark.createDataFrame(
        [("k1=3 k2=77",)], "kv string"
    ).createOrReplaceTempView("rt")
    got, _ = translate_ch_sql(
        r"SELECT extractAll(kv, 'k\d=(\d+)') AS nums, "
        r"extractAll(kv, '\d+') AS all_nums, "
        r"match(kv, 'k\d') AS m, "
        r"replaceRegexpAll(kv, '\s+', '_') AS u FROM rt"
    )
    assert r"'k\\d=(\\d+)'" in got  # literal doubled for Spark
    r_ = spark.sql(got).first()
    assert r_["nums"] == ["3", "77"]          # capturing group → index 1
    assert r_["all_nums"] == ["1", "3", "2", "77"]  # no group → whole match
    assert r_["m"] is True and r_["u"] == "k1=3_k2=77"
    # already-doubled input stays semantically identical
    got2, _ = translate_ch_sql(r"SELECT match(kv, 'k\\d') AS m FROM rt")
    assert spark.sql(got2).first()["m"] is True
    # escaped paren is NOT a capturing group → whole-match index 0
    got3, _ = translate_ch_sql(r"SELECT extractAll(kv, '=\(?(\d)') AS g FROM rt")
    assert ", 1)" in got3


def test_array_aggregate_combinators(spark):
    """-Array combinators (sumArray/minArray/maxArray/countArray/avgArray)
    and the capped groupArray(N)(x) form."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0]), (2, [])],
        "g int, xs array<double>",
    ).createOrReplaceTempView("agc")
    got, _ = translate_ch_sql(
        "SELECT g, sumArray(xs) AS s, minArray(xs) AS mn, maxArray(xs) AS mx, "
        "countArray(xs) AS c, avgArray(xs) AS a, "
        "groupArray(2)(g) AS g2 FROM agc GROUP BY g"
    )
    out = {r["g"]: (r["s"], r["mn"], r["mx"], r["c"], r["a"], len(r["g2"]))
           for r in spark.sql(got).collect()}
    assert out[1] == (6.0, 1.0, 3.0, 3, 2.0, 2)
    # empty arrays: sum 0 per CH; min/max over nothing → NULL; avg NULL
    assert out[2][0] == 0.0 and out[2][1] is None and out[2][3] == 0
    # plain one-group groupArray still renames
    got2, _ = translate_ch_sql("SELECT groupArray(g) AS gs FROM agc")
    assert "collect_list(g)" in got2
    with pytest.raises(ChTranslationError, match="integer literal"):
        translate_ch_sql("SELECT groupArray(x)(g) FROM agc")


def test_system_views_and_cli_conveniences(spark, capsys):
    """system.columns/tables/clusters emulation + SHOW TABLES / DESCRIBE /
    EXPLAIN in --query mode — the reference's own discovery SQL
    (output/clickhouse.go:41-58, discovery/discovery.go:15) runs
    unchanged."""
    from clickhouse_sinker_spark.__main__ import main
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql
    from clickhouse_sinker_spark.sources.systemviews import register_system_views
    from clickhouse_sinker_spark.sources.tables import load_table

    load_table(spark, SF_DIR, "events").createOrReplaceTempView("events")
    register_system_views(
        spark, ["events"], sorting_keys={"events": ["user_id", "event_type"]},
        hosts=["h0:9000,h0r2:9000", "h1:9000"],
    )
    # the reference's dims-discovery query, byte-for-byte shape
    got, notes = translate_ch_sql(
        "select name, type, default_kind from system.columns "
        "where database = 'default' and table = 'events'"
    )
    assert "system_columns" in got and any("system" in n for n in notes)
    rows = {r["name"]: r["type"] for r in spark.sql(got).collect()}
    assert rows["user_id"] == "Nullable(Int64)"
    assert rows["ts"] == "Nullable(DateTime)"
    # sorting-key discovery (output/clickhouse.go:742)
    got2, _ = translate_ch_sql(
        "SELECT name FROM system.columns WHERE table = 'events' "
        "AND is_in_sorting_key = 1 ORDER BY position"
    )
    assert [r["name"] for r in spark.sql(got2).collect()] == [
        "user_id", "event_type",
    ]
    # topology (discovery/discovery.go:15)
    got3, _ = translate_ch_sql(
        "SELECT shard_num, replica_num, host_name FROM system.clusters "
        "WHERE cluster = 'default' ORDER BY shard_num, replica_num"
    )
    assert [(r[0], r[1], r[2]) for r in spark.sql(got3).collect()] == [
        (1, 1, "h0"), (1, 2, "h0r2"), (2, 1, "h1"),
    ]

    # CLI conveniences
    main(["--query", "SHOW TABLES", "--data-dir", SF_DIR,
          "--query-format", "csv", "--master", "local[4]"])
    out = capsys.readouterr().out.strip().splitlines()
    assert "events" in out and "lineitem" in out
    main(["--query", "DESCRIBE events", "--data-dir", SF_DIR,
          "--query-format", "csv", "--master", "local[4]"])
    out2 = capsys.readouterr().out.strip().splitlines()
    assert out2[0] == "name,type,default_kind"
    assert any(l.startswith("event_id,") for l in out2)
    main(["--query", "EXPLAIN SELECT count(*) FROM events",
          "--data-dir", SF_DIR, "--master", "local[4]"])
    out3 = capsys.readouterr().out
    assert "Physical Plan" in out3


def test_sample_one_is_whole_table(spark):
    """SAMPLE 1 is the fraction 1 (whole table) in ClickHouse — never a
    1-row quota (code-review r6 finding)."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql("SELECT count(*) AS n FROM st1 SAMPLE 1")
    assert "TABLESAMPLE (100 PERCENT)" in got
    spark.createDataFrame([(i,) for i in range(25)], "x int") \
        .createOrReplaceTempView("st1")
    assert spark.sql(got).first()["n"] == 25


def test_cli_explain_syntax(capsys):
    """EXPLAIN SYNTAX prints the translated Spark SQL (CH parity: the
    rewritten-query view) without executing it."""
    from clickhouse_sinker_spark.__main__ import main

    main(["--query", "EXPLAIN SYNTAX SELECT countIf(value > 1) AS c FROM events",
          "--data-dir", SF_DIR, "--master", "local[4]"])
    out = capsys.readouterr().out.strip()
    assert out == "SELECT count_if(value > 1) AS c FROM events"


def test_cli_show_create_table(capsys):
    from clickhouse_sinker_spark.__main__ import main

    main(["--query", "SHOW CREATE TABLE events", "--data-dir", SF_DIR,
          "--final-key", "events:user_id,event_type:ts,event_id",
          "--master", "local[4]"])
    out = capsys.readouterr().out
    assert "CREATE TABLE events" in out
    assert "`user_id` Nullable(Int64)" in out
    assert "ENGINE = ReplacingMergeTree" in out
    assert "ORDER BY (user_id, event_type)" in out
    # without a sorting key: plain MergeTree ORDER BY tuple()
    main(["--query", "SHOW CREATE region", "--data-dir", SF_DIR,
          "--master", "local[4]"])
    out2 = capsys.readouterr().out
    assert "ENGINE = MergeTree" in out2 and "ORDER BY (tuple())" in out2


def _ch_read_literal(body: str) -> str:
    """Reference reading of a CH single-quoted literal body: known escapes
    decode, unknown escapes KEEP the backslash."""
    out, i = [], 0
    known = {"\\": "\\", "'": "'", '"': '"', "n": "\n", "t": "\t",
             "r": "\r", "b": "\b", "0": "\0"}
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            out.append(known.get(nxt, "\\" + nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _spark_read_literal(body: str) -> str:
    """Spark's reading: known escapes decode, unknown escapes DROP the
    backslash (the mismatch _reescape_literals exists to fix)."""
    out, i = [], 0
    known = {"\\": "\\", "'": "'", '"': '"', "n": "\n", "t": "\t",
             "r": "\r", "b": "\b", "0": "\0"}
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            out.append(known.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


@settings_chd(max_examples=200, deadline=None)
@given_chd(
    st_chd.text(
        alphabet="abcXYZ0123456789 .*+?()[]{}\\dswWS$^|%_#@!-=/<>,;:\n\t",
        max_size=30,
    )
)
def test_literal_reescape_property(body):
    """PROPERTY: for any literal body, Spark's reading of the TRANSLATED
    literal equals ClickHouse's reading of the ORIGINAL — i.e. the
    re-escape pass makes both engines see the same string value."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    if body.endswith("\\"):  # a trailing lone backslash would escape the
        body = body + "x"    # closing quote — not a parseable literal
    sql = f"SELECT '{body}' AS lit FROM t"
    got, _ = translate_ch_sql(sql)
    m = __import__("re").search(r"SELECT '(.*)' AS lit FROM t", got, 16)
    assert m is not None, got
    assert _spark_read_literal(m.group(1)) == _ch_read_literal(body)


def test_any_join_using_rewrite(spark):
    """ANY LEFT/INNER JOIN … USING: rewritten to a plain join against the
    keyed survivor subquery (row_number()=1 ordered by the table's
    remaining orderable columns — deterministic, a valid instance of CH's
    arbitrary-pick contract; identity when keys are unique)."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame([(1, "x"), (2, "y")], "k int, lv string") \
        .createOrReplaceTempView("ajl")
    spark.createDataFrame(
        [(1, "a", 10), (1, "b", 5), (3, "c", 1)], "k int, rv string, n int"
    ).createOrReplaceTempView("ajr")
    tc = {"ajl": ["k", "lv"], "ajr": ["k", "rv", "n"]}
    got, notes = translate_ch_sql(
        "SELECT k, lv, rv FROM ajl ANY LEFT JOIN ajr USING (k) ORDER BY k",
        table_columns=tc,
    )
    assert any("ANY JOIN" in n for n in notes)
    rows = [(r["k"], r["lv"], r["rv"]) for r in spark.sql(got).collect()]
    assert rows == [(1, "x", "a"), (2, "y", None)]  # min (rv, n) survivor
    # standard keyword order + INNER
    got2, _ = translate_ch_sql(
        "SELECT k, rv FROM ajl LEFT ANY JOIN ajr USING (k)", table_columns=tc
    )
    assert "row_number()" in got2
    got3, _ = translate_ch_sql(
        "SELECT ajl.k FROM ajl INNER ANY JOIN ajr USING (k)", table_columns=tc
    )
    assert "INNER JOIN (SELECT" in got3
    # bare ANY (CH default = INNER) and OUTER-suffixed forms translate too
    got4, _ = translate_ch_sql(
        "SELECT k FROM ajl ANY JOIN ajr USING (k)", table_columns=tc
    )
    assert "INNER JOIN (SELECT" in got4
    got5, _ = translate_ch_sql(
        "SELECT k FROM ajl ANY LEFT OUTER JOIN ajr USING (k)", table_columns=tc
    )
    assert "LEFT JOIN (SELECT" in got5
    # RIGHT ANY (both keyword orders): survivor on the LEFT table, plain
    # RIGHT JOIN — every right row survives, ≤1 left match
    spark.createDataFrame(
        [(1, "x", 2), (1, "y", 1), (2, "z", 3)], "k int, lv string, m int"
    ).createOrReplaceTempView("ajl2")
    tc2 = dict(tc, ajl2=["k", "lv", "m"])
    got6, notes6 = translate_ch_sql(
        "SELECT k, lv, rv FROM ajl2 RIGHT ANY JOIN ajr USING (k) ORDER BY k, rv",
        table_columns=tc2,
    )
    assert any("RIGHT ANY" in n for n in notes6)
    rows6 = [(r["k"], r["lv"], r["rv"]) for r in spark.sql(got6).collect()]
    # left survivor per k=1 is ('x', 2) — min by (lv, m); k=3 right row
    # survives unmatched
    assert rows6 == [(1, "x", "a"), (1, "x", "b"), (3, None, "c")]
    got7, _ = translate_ch_sql(
        "SELECT k, rv FROM ajl2 ANY RIGHT JOIN ajr AS r USING (k)",
        table_columns=tc2,
    )
    assert "RIGHT JOIN ajr AS r" in got7 and "row_number()" in got7
    # ON-form, unknown tables, and unsupported directions refuse loudly —
    # never run as a silent ALL join
    for bad in (
        "SELECT 1 FROM ajl ANY LEFT JOIN ajr ON ajl.k = ajr.k",
        "SELECT 1 FROM ajl ANY LEFT JOIN nosuch USING (k)",
        "SELECT 1 FROM nosuch RIGHT ANY JOIN ajr USING (k)",
        "SELECT 1 FROM ajl FULL ANY JOIN ajr USING (k)",
    ):
        with pytest.raises(ChTranslationError, match="ANY JOIN"):
            translate_ch_sql(bad, table_columns=tc)


def test_bit_functions_and_position_start(spark):
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    spark.createDataFrame([(12, 10, "abcabc")], "a int, b int, s string") \
        .createOrReplaceTempView("bt")
    got, _ = translate_ch_sql(
        "SELECT bitAnd(a, b) AS ba, bitOr(a, b) AS bo, bitXor(a, b) AS bx, "
        "bitNot(a) AS bn, bitCount(a) AS bc, bitTest(a, 2) AS b2, "
        "bitTest(a, 0) AS b0, position(s, 'bc') AS p, "
        "position(s, 'bc', 3) AS p3 FROM bt"
    )
    r = spark.sql(got).first()
    assert (r["ba"], r["bo"], r["bx"], r["bn"]) == (8, 14, 6, -13)
    assert r["bc"] == 2            # 12 = 0b1100
    assert r["b2"] == 1 and r["b0"] == 0  # UInt8 0/1, summable like CH
    assert r["p"] == 2 and r["p3"] == 5  # 1-based; start=3 skips first hit


def test_position_is_case_sensitive(spark):
    """CH's 2-arg position() is case-SENSITIVE; the r9 instr rewrite was
    re-rewriting position's emitted instr() into the case-INSENSITIVE
    locate(lower, lower) form (ADVICE r9 high).  position('Hello',
    'hello') must be 0; instr (= positionCaseInsensitive alias) must
    still be 1; positionUTF8 stays case-sensitive too."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    got, _ = translate_ch_sql(
        "SELECT position('Hello', 'hello') AS p, "
        "positionUTF8('Hello', 'hello') AS pu, "
        "position('Hello', 'llo') AS ps, "
        "instr('Hello', 'hello') AS ci"
    )
    assert "lower(lower(" not in got
    r = spark.sql(got).first()
    assert r["p"] == 0 and r["pu"] == 0
    assert r["ps"] == 3
    assert r["ci"] == 1


def test_escaped_quote_literals_do_not_blind_scanners(spark):
    r"""A \'-escaped quote inside an earlier literal must not flip the
    string-aware scanners' state (review r6 batch 3): the re-escape pass
    normalizes \' to the SQL-standard '' so every toggle-walk stays
    synchronized, and constructs AFTER such a literal still rewrite."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    tc = {"eq1": ["k", "v"], "eq2": ["k", "w"]}
    got, _ = translate_ch_sql(
        "SELECT 'it\\'s fine' AS s, countIf(k > 0) AS c, k "
        "FROM eq1 ANY JOIN eq2 USING (k) GROUP BY k",
        table_columns=tc,
    )
    assert "''s fine'" in got            # \' → '' (value preserved)
    assert "count_if(k > 0)" in got      # rewrites after the literal fire
    assert "INNER JOIN (SELECT" in got   # ANY JOIN rewrite fires too
    spark.createDataFrame([(1, "x")], "k int, v string") \
        .createOrReplaceTempView("eq1")
    spark.createDataFrame([(1, "w")], "k int, w string") \
        .createOrReplaceTempView("eq2")
    r = spark.sql(got).first()
    assert r["s"] == "it's fine" and r["c"] == 1


def test_any_join_keyword_named_table_and_cross():
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    tc = {"anti": ["k", "z"], "ajr": ["k", "w"], "ajl": ["k", "v"]}
    # a table literally named like a join keyword is still a bare ANY JOIN
    got, _ = translate_ch_sql(
        "SELECT k FROM anti ANY JOIN ajr USING (k)", table_columns=tc
    )
    assert "INNER JOIN (SELECT" in got
    for bad in (
        "SELECT k FROM ajl ANY CROSS JOIN ajr",
        "SELECT k FROM ajl CROSS ANY JOIN ajr",
    ):
        with pytest.raises(ChTranslationError, match="ANY JOIN"):
            translate_ch_sql(bad, table_columns=tc)


def test_weighted_arg_and_array_first_last(spark):
    """avgWeighted / argMaxIf / argMinIf / arrayFirst / arrayLast /
    arrayFirstIndex / toDate32 — ANSI-safe (try_divide, try_element_at;
    delta: arrayFirst with no match yields NULL where CH yields the
    element type's default)."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    spark.createDataFrame(
        [(1, [1, 5, 2], 10.0, 2.0), (1, [3], 20.0, 0.0), (2, [], 5.0, 0.0)],
        "g int, xs array<int>, x double, w double",
    ).createOrReplaceTempView("wt")
    got, _ = translate_ch_sql(
        "SELECT g, avgWeighted(x, w) AS aw, argMaxIf(x, w, w > 0) AS amx, "
        "argMinIf(x, w, w > 0) AS amn FROM wt GROUP BY g"
    )
    out = {r["g"]: (r["aw"], r["amx"], r["amn"]) for r in spark.sql(got).collect()}
    assert out[1] == (10.0, 10.0, 10.0)
    assert out[2] == (None, None, None)  # zero weight → NULL, no ANSI error
    got2, _ = translate_ch_sql(
        "SELECT arrayFirst(x -> x > 1, xs) AS f, arrayLast(x -> x > 1, xs) AS l, "
        "arrayFirstIndex(x -> x > 1, xs) AS fi, toDate32('2024-01-05') AS d "
        "FROM wt WHERE g = 1 ORDER BY size(xs) DESC"
    )
    rows = [(r["f"], r["l"], r["fi"], str(r["d"])) for r in spark.sql(got2).collect()]
    assert rows == [(5, 2, 2, "2024-01-05"), (3, 3, 1, "2024-01-05")]
    got3, _ = translate_ch_sql(
        "SELECT arrayFirstIndex(x -> x > 1, xs) AS fi FROM wt WHERE g = 2"
    )
    assert spark.sql(got3).first()["fi"] == 0  # CH contract: 0 when absent


def test_map_aggregates_and_value_transform(spark):
    """sumMap/minMap/maxMap → map_zip_with fold returning CH's
    tuple-of-arrays shape (keys ascending); value-mapping transform();
    caseWithExpression; groupBitmap = exact bitmap cardinality;
    quantileTiming via the shared approx sketch; timestamp64 epoch
    family; geoDistance via haversine (ellipsoid delta documented)."""
    import datetime as dt

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [
            (1, ["a", "b"], [1.0, 2.0], 5, dt.datetime(2024, 1, 1)),
            (1, ["b", "c"], [10.0, 3.0], 2, dt.datetime(2024, 1, 1, 0, 0, 1)),
            (2, ["a"], [7.0], 9, dt.datetime(2024, 1, 1)),
        ],
        "g int, ks array<string>, vs array<double>, v int, ts timestamp",
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql(
        "SELECT g, sumMap(ks, vs) AS sm, minMap(ks, vs) AS mn, "
        "maxMap(ks, vs) AS mx, groupBitmap(v) AS gb FROM t GROUP BY g"
    )
    out = {r["g"]: r for r in spark.sql(got).collect()}
    assert out[1]["sm"]["keys"] == ["a", "b", "c"]
    assert out[1]["sm"]["values"] == [1.0, 12.0, 3.0]
    assert out[1]["mn"]["values"] == [1.0, 2.0, 3.0]
    assert out[1]["mx"]["values"] == [1.0, 10.0, 3.0]
    assert out[1]["gb"] == 2 and out[2]["gb"] == 1

    got2, _ = translate_ch_sql(
        "SELECT transform(v, [2, 5], [20, 50], -1) AS t4, "
        "transform(v, [2], [20]) AS t3, "
        "caseWithExpression(v, 2, 'two', 5, 'five', 'other') AS cw, "
        "toUnixTimestamp64Milli(ts) AS ms, toUnixTimestamp64Nano(ts) AS ns, "
        "fromUnixTimestamp64Micro(1700000000000000) AS ft "
        "FROM t WHERE v = 5"
    )
    r = spark.sql(got2).first()
    assert (r["t4"], r["t3"], r["cw"]) == (50, 5, "five")
    assert r["ms"] == 1704067200000 and r["ns"] == 1704067200000000000
    assert r["ft"] == dt.datetime(2023, 11, 14, 22, 13, 20)

    # the 2-arg Spark higher-order transform passes through; the upper()
    # inside follows the CH ASCII-only contract (translate rewrite)
    got3, _ = translate_ch_sql("SELECT transform(ks, x -> upper(x)) AS u FROM t")
    assert got3.startswith("SELECT transform(ks, x -> translate(x,")

    for bad, hint in (
        ("SELECT dictGet('d', 'a', v) FROM t", "broadcast JOIN"),
        ("SELECT histogram(5)(v) FROM t", "bucketing"),
        ("SELECT rowNumberInAllBlocks() FROM t", "row_number"),
        ("SELECT sparkBar(9)(x, y) FROM t", "no faithful"),
    ):
        with pytest.raises(ChTranslationError, match="no faithful"):
            translate_ch_sql(bad)
    # formatReadableTimeDelta TRANSLATES since r9 (docs-pinned)
    got, _ = translate_ch_sql("SELECT formatReadableTimeDelta(v) FROM t")
    assert "ch_time_delta(v, 'years')" in got


def test_state_merge_combinators_refused():
    """-State/-Merge combinators carry AggregateFunction states — refused
    loudly, never passed through to a confusing Spark analysis error."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    for bad in (
        "SELECT sumState(v) FROM t",
        "SELECT uniqMerge(s) FROM t",
        "SELECT countSimpleState(v) FROM t",
    ):
        with pytest.raises(ChTranslationError, match="State/-Merge"):
            translate_ch_sql(bad)
    # ...but ordinary names and literals stay untouched
    got, _ = translate_ch_sql("SELECT 'sumState(x)' AS s, sumMap(k, v) FROM t")
    assert "sumState(x)" in got
    # a literal occurrence must not MASK a real combinator call later in
    # the query (review r7: first-match-only scan let it slip through)
    with pytest.raises(ChTranslationError, match="State/-Merge"):
        translate_ch_sql("SELECT 'sumState(x)' AS lbl, sumState(v) FROM t")
    with pytest.raises(ChTranslationError, match="no faithful"):
        translate_ch_sql("SELECT 'deltaSum(' AS lbl, deltaSum(v) FROM t")
    # a now-TRANSLATED combinator behind a literal decoy still rewrites
    got2, _ = translate_ch_sql("SELECT 'topK(' AS lbl, topK(3)(v) FROM t")
    assert "'topK('" in got2 and "collect_list(v)" in got2


def test_window_funnel_combined_modes(spark):
    """Modes combine as in CH: strict_order + strict_increase together —
    an unmatched event freezes AND same-timestamp steps stall."""
    import datetime as dt

    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    T0 = dt.datetime(2024, 1, 1)
    mins = lambda m: T0 + dt.timedelta(minutes=m)
    _funnel_view(spark, [
        (1, mins(0), 'a'), (1, mins(1), 'b'), (1, mins(2), 'c'),   # clean chain
        (2, mins(0), 'a'), (2, mins(1), 'x'), (2, mins(2), 'b'),   # x freezes
        (3, mins(0), 'a'), (3, mins(0), 'b'), (3, mins(1), 'c'),   # b stalls (same ts)
    ])
    got, _ = translate_ch_sql(
        "SELECT user_id, windowFunnel(3600, 'strict_order', 'strict_increase')"
        "(ts, event_type = 'a', event_type = 'b', event_type = 'c') AS lvl "
        "FROM t GROUP BY user_id"
    )
    out = {r["user_id"]: r["lvl"] for r in spark.sql(got).collect()}
    assert out == {1: 3, 2: 1, 3: 1}


def test_text_time_array_ip_uuid_batch(spark):
    """r7 batch: alphaTokens/multiSearchAny/extractGroups/isValidJSON,
    age/timeDiff/toModifiedJulianDay, arrayEnumerateDense/arrayRotateLeft,
    IP and UUID conversions (canonical-string forms, matching how the
    reference maps those CH types from string metrics), plus the simple
    renames (substringIndex, editDistance, mapFromArrays,
    toLastDayOfMonth)."""
    import datetime as dt

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [("ab, cd! ef", "10.1.2.3", "12345678-9ABC-def0-1122-334455667788",
          [5, 3, 5, 7], dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2, 3),
          16909060)],
        "s string, ip string, u string, xs array<int>, "
        "t1 timestamp, t2 timestamp, n bigint",
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql(
        "SELECT alphaTokens(s) AS at, multiSearchAny(s, ['zz','cd']) AS ms, "
        "extractGroups(s, '([a-z]+), ([a-z]+)') AS eg, "
        "isValidJSON(s) AS vj, "
        "age('hour', t1, t2) AS ah, timeDiff(t1, t2) AS td, "
        "toModifiedJulianDay(t1) AS mj, "
        "arrayEnumerateDense(xs) AS ed, arrayRotateLeft(xs, 1) AS rl, "
        "arrayRotateLeft(xs, -1) AS rr, "
        "toIPv4OrNull(ip) AS v4, toIPv4OrNull(s) AS v4bad, "
        "toUUIDOrNull(u) AS uu, IPv4NumToString(n) AS n2s, "
        "IPv4StringToNum(ip) AS s2n, "
        "substringIndex('a.b.c', '.', 2) AS si, "
        "editDistance('kitten', 'sitting') AS lev, "
        "toLastDayOfMonth(t1) AS ld FROM t"
    )
    r = spark.sql(got).first()
    assert r["at"] == ["ab", "cd", "ef"]
    assert r["ms"] is True
    assert r["eg"] == ["ab", "cd"]
    assert r["vj"] is False
    assert r["ah"] == 27 and r["td"] == 97200
    assert r["mj"] == 60310  # 2024-01-01 in Modified Julian Days
    assert r["ed"] == [1, 2, 1, 3]
    assert r["rl"] == [3, 5, 7, 5] and r["rr"] == [7, 5, 3, 5]
    assert r["v4"] == "10.1.2.3" and r["v4bad"] is None
    assert r["uu"] == "12345678-9abc-def0-1122-334455667788"
    assert r["n2s"] == "1.2.3.4"
    assert r["s2n"] == 10 * 16777216 + 1 * 65536 + 2 * 256 + 3
    assert r["si"] == "a.b" and r["lev"] == 3
    assert str(r["ld"]) == "2024-01-31"
    for bad in (
        "SELECT arrayShuffle(xs) FROM t",       # nondeterministic
        "SELECT lemmatize('en', s) FROM t",     # model-backed NLP
    ):
        with pytest.raises(ChTranslationError, match="no faithful"):
            translate_ch_sql(bad)


def test_or_null_or_zero_cast_family(spark):
    """to<T>OrNull/OrZero → TRY_CAST (+ the reference's bad-data default);
    accurateCastOrNull range-checks through the narrow Spark type."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [("42", "bad", "300", "2024-01-02", "2024-01-02 03:04:05")],
        "ok string, bad string, big string, d string, ts string",
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql(
        "SELECT toInt64OrNull(ok) AS a, toInt64OrNull(bad) AS b, "
        "toInt64OrZero(bad) AS c, toFloat64OrNull(bad) AS f, "
        "toDateOrNull(d) AS dd, toDateOrZero(bad) AS dz, "
        "toDateTimeOrNull(ts) AS tt, toDateTimeOrZero(bad) AS tz, "
        "accurateCastOrNull(big, 'Int8') AS a8, "
        "accurateCastOrNull(big, 'Int64') AS a64 FROM t"
    )
    import datetime as dt

    r = spark.sql(got).first()
    assert (r["a"], r["b"], r["c"], r["f"]) == (42, None, 0, None)
    assert str(r["dd"]) == "2024-01-02" and str(r["dz"]) == "1970-01-01"
    assert r["tt"] == dt.datetime(2024, 1, 2, 3, 4, 5)
    assert r["tz"] == dt.datetime(1970, 1, 1)
    assert r["a8"] is None          # 300 overflows Int8 → accurate NULL
    assert r["a64"] == 300
    with pytest.raises(ChTranslationError, match="not supported"):
        translate_ch_sql("SELECT accurateCastOrNull(x, 'UInt256') FROM t")


def test_asof_join_using_rewrite(spark):
    """ASOF [LEFT] JOIN … USING (k, t) → union + ignore-nulls last()
    carry + keyed join-back; >= includes equal timestamps; inner drops
    unmatched left rows, LEFT null-pads; other forms refuse."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [(1, 10, 100.0), (1, 25, 101.0), (1, 4, 99.0), (2, 7, 50.0)],
        "k int, t int, price double",
    ).createOrReplaceTempView("trades")
    spark.createDataFrame(
        [(1, 5, 1.5), (1, 10, 2.5), (1, 20, 3.5), (3, 1, 9.9)],
        "k int, t int, bid double",
    ).createOrReplaceTempView("quotes")
    tc = {"trades": ["k", "t", "price"], "quotes": ["k", "t", "bid"]}
    got, notes = translate_ch_sql(
        "SELECT k, t, price, bid FROM trades ASOF JOIN quotes USING (k, t) "
        "ORDER BY k, t",
        table_columns=tc,
    )
    assert any("ASOF JOIN" in n for n in notes)
    rows = [tuple(r) for r in spark.sql(got).collect()]
    # t=4 has no quote ≤ 4 → dropped; t=10 matches the equal-ts quote
    assert rows == [(1, 10, 100.0, 2.5), (1, 25, 101.0, 3.5)]
    got2, _ = translate_ch_sql(
        "SELECT k, t, price, bid FROM trades ASOF LEFT JOIN quotes "
        "USING (k, t) ORDER BY k, t",
        table_columns=tc,
    )
    rows2 = [tuple(r) for r in spark.sql(got2).collect()]
    assert rows2 == [
        (1, 4, 99.0, None),
        (1, 10, 100.0, 2.5),
        (1, 25, 101.0, 3.5),
        (2, 7, 50.0, None),
    ]
    for bad in (
        "SELECT 1 FROM trades ASOF JOIN quotes ON trades.k = quotes.k "
        "AND trades.t >= quotes.t",
        "SELECT 1 FROM trades ASOF JOIN nosuch USING (k, t)",
        "SELECT 1 FROM trades ASOF JOIN quotes USING (t)",  # no equi-key
    ):
        with pytest.raises(ChTranslationError, match="ASOF"):
            translate_ch_sql(bad, table_columns=tc)
    # overlapping non-key columns cannot flatten
    tc2 = {"trades": ["k", "t", "v"], "quotes": ["k", "t", "v"]}
    with pytest.raises(ChTranslationError, match="both sides"):
        translate_ch_sql(
            "SELECT 1 FROM trades ASOF JOIN quotes USING (k, t)",
            table_columns=tc2,
        )


def test_with_fill_rewrite(spark):
    """Trailing ORDER BY x WITH FILL: sequence spine ∪ actual values,
    TO exclusive, off-grid originals survive, filler rows NULL-padded
    (noted delta vs CH's type defaults); non-simple forms refuse."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [(1, "a"), (3, "b"), (7, "c")], "x int, s string"
    ).createOrReplaceTempView("t")
    got, notes = translate_ch_sql("SELECT x, s FROM t ORDER BY x WITH FILL")
    assert any("WITH FILL" in n for n in notes)
    rows = [tuple(r) for r in spark.sql(got).collect()]
    assert rows == [(i, {1: "a", 3: "b", 7: "c"}.get(i)) for i in range(1, 8)]
    got2, _ = translate_ch_sql(
        "SELECT x, s FROM t ORDER BY x WITH FILL FROM 0 TO 10 STEP 2"
    )
    rows2 = [tuple(r) for r in spark.sql(got2).collect()]
    assert [r[0] for r in rows2] == [0, 1, 2, 3, 4, 6, 7, 8]  # TO exclusive
    for bad in (
        "SELECT x FROM t ORDER BY a, x WITH FILL",
        "SELECT x FROM t ORDER BY x WITH FILL INTERPOLATE (s AS s || '!')",
        "SELECT x FROM t ORDER BY x WITH FILL STEP 0",
    ):
        with pytest.raises(ChTranslationError, match="WITH FILL"):
            translate_ch_sql(bad)


def test_translator_is_total_on_garbage():
    """The translation contract is TOTAL: any input either translates or
    raises ChTranslationError — malformed SQL (unbalanced parens,
    truncated combinators, dangling arg lists) must never escape as an
    internal IndexError/KeyError (distilled from a 6k-case fuzz)."""
    import random

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    frags = [
        "windowFunnel(3600)(", "quantile(0.5)", "sumMap(", "(?1)(?t<=",
        "'", "''", "\\'", "((", "))", "SELECT", "FROM t", "arrayMap(x ->",
        "[1,2", "x[", "USING (", "ASOF JOIN t", "WITH FILL STEP",
        "LIMIT 1 BY", "toInt64OrNull(", "CAST(", "extract(",
        "sequenceMatch('", "')(ts, a)", "GLOBAL", "ANY LEFT JOIN u",
        "FINAL", "PREWHERE", "SAMPLE 0.1 OFFSET", "-- cmt", "/*", "*/",
    ]
    rng = random.Random(11)
    for _ in range(6000):
        s = " ".join(rng.choice(frags) for _ in range(rng.randint(1, 10)))
        try:
            translate_ch_sql(s)
        except ChTranslationError:
            pass  # the only permitted failure mode


def test_with_fill_to_without_from_and_null_rows(spark):
    """Review r7 fixes: TO without FROM must execute (the bound may not
    land inside a higher-order-function lambda), and rows whose
    fill-column value is NULL keep their payload (null-safe join)."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    spark.createDataFrame(
        [(1, 100), (None, 200), (3, 300)], "d int, n int"
    ).createOrReplaceTempView("m")
    got, _ = translate_ch_sql("SELECT d, n FROM m ORDER BY d WITH FILL TO 5")
    rows = [tuple(r) for r in spark.sql(got).collect()]
    # spine = min(d)=1 .. 4 (TO exclusive) ∪ originals incl. the NULL row
    assert rows == [(None, 200), (1, 100), (2, None), (3, 300), (4, None)], rows
    # FROM > TO: empty filler, originals survive
    got2, _ = translate_ch_sql(
        "SELECT d, n FROM m ORDER BY d WITH FILL FROM 9 TO 5"
    )
    rows2 = [tuple(r) for r in spark.sql(got2).collect()]
    assert rows2 == [(None, 200), (1, 100), (3, 300)], rows2


def test_asof_join_survivor_single_cte(spark):
    """Review r7: the deduped right side is ONE top-level CTE referenced
    twice, not two textually-duplicated survivor subqueries."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    tc = {"trades": ["k", "t", "price"], "quotes": ["k", "t", "bid"]}
    got, _ = translate_ch_sql(
        "SELECT k, t, price, bid FROM trades ASOF JOIN quotes USING (k, t)",
        table_columns=tc,
    )
    assert got.lstrip().upper().startswith("WITH __ASOF_BD0")
    assert got.count("row_number()") == 1
    assert got.count("__asof_bd0") >= 3  # definition + union + join-back


def test_simple_json_keys_and_round_batch(spark):
    """simpleJSON*/visitParam family, JSONExtractKeys (json_object_keys),
    toStringCutToZero, roundBankers (both HALF_EVEN), toBool and its
    auto-derived OrNull variant; introspection/sketch functions refuse."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [('{"a": 3, "b": {"c": 1.5}, "ok": true}', "x\x00y", 2.5)],
        "j string, s string, v double",
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql(
        "SELECT simpleJSONExtractInt(j, 'a') AS i, simpleJSONHas(j, 'b') AS h, "
        "JSONExtractKeys(j) AS ks, JSONExtractKeys(j, 'b') AS kb, "
        "toStringCutToZero(s) AS cz, roundBankers(v, 0) AS rb, "
        "toBoolOrNull('zzz') AS tbn FROM t"
    )
    r = spark.sql(got).first()
    assert r["i"] == 3 and r["h"] is True
    assert r["ks"] == ["a", "b", "ok"] and r["kb"] == ["c"]
    assert r["cz"] == "x"
    assert r["rb"] == 2.0  # banker's rounding: 2.5 → 2
    assert r["tbn"] is None
    # review batch: toBoolOrZero must default to FALSE (not INT 0 — that
    # fails COALESCE type unification); the legacy visitParam* numeric
    # aliases share the simpleJSON machinery; JSONExtractKeys on
    # non-object input yields [] like CH, not Spark's NULL
    got2, _ = translate_ch_sql(
        "SELECT toBoolOrZero('zzz') AS tbz, toBoolOrZero('true') AS tbt, "
        "visitParamExtractInt(j, 'a') AS vi, "
        "visitParamExtractFloat(j, 'a') AS vf, "
        "visitParamExtractBool(j, 'ok') AS vb, "
        "JSONExtractKeys('[1,2]') AS knb, "
        "JSONExtractKeys('not json') AS kmal FROM t"
    )
    r2 = spark.sql(got2).first()
    assert r2["tbz"] is False and r2["tbt"] is True
    assert r2["vi"] == 3 and r2["vf"] == 3.0 and r2["vb"] is True
    assert r2["knb"] == [] and r2["kmal"] == []
    for bad in (
        "SELECT toTypeName(v) FROM t",
        # toFixedString / ngramDistance translate since r9
        "SELECT detectLanguage(s) FROM t",  # JSONType translates since r8
    ):
        with pytest.raises(ChTranslationError, match="no faithful"):
            translate_ch_sql(bad)


def test_url_tail_batch(spark):
    """URLDomain/topLevelDomain/pathFull/cutQueryString/cutFragment/
    cutQueryStringAndFragment/decodeURLComponent/encodeURLComponent."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    spark.createDataFrame(
        [
            ("http://www.ex.com/a/b?x=1&y=2#frag",),
            ("http://127.0.0.1/q?z=9",),
            ("http://ex.net/#only",),
        ],
        "u string",
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql(
        "SELECT URLDomain(u) AS d, topLevelDomain(u) AS tld, "
        "pathFull(u) AS pf, cutQueryString(u) AS cq, cutFragment(u) AS cf, "
        "cutQueryStringAndFragment(u) AS cqf FROM t"
    )
    r = spark.sql(got).collect()
    assert r[0]["d"] == "www.ex.com" and r[0]["tld"] == "com"
    assert r[0]["pf"] == "/a/b?x=1&y=2#frag"
    # the '?' cut keeps the fragment like ClickHouse
    assert r[0]["cq"] == "http://www.ex.com/a/b#frag"
    assert r[0]["cf"] == "http://www.ex.com/a/b?x=1&y=2"
    assert r[0]["cqf"] == "http://www.ex.com/a/b"
    assert r[1]["tld"] == ""  # IP-literal host → '' like CH
    assert r[2]["cq"] == "http://ex.net/#only"  # no query → unchanged
    enc, _ = translate_ch_sql(
        "SELECT decodeURLComponent('a%20b%26c') AS d, "
        "decodeURLComponent('c++') AS dp, "
        "encodeURLComponent('a b&c') AS e"
    )
    row = spark.sql(enc).first()
    assert row["d"] == "a b&c" and row["e"] == "a%20b%26c"
    assert row["dp"] == "c++"  # percent-decode only: '+' is NOT a space
    # malformed URLs flow through the whole tail without aborting
    bad, _ = translate_ch_sql(
        "SELECT pathFull('::bad url::') AS pf, URLDomain('::bad::') AS d, "
        "topLevelDomain('::bad::') AS tld, cutQueryString('a?b#c') AS cq"
    )
    r = spark.sql(bad).first()
    assert (r["pf"], r["d"], r["tld"]) == ("", "", "")
    assert r["cq"] == "a#c"


def test_intervals_exp_datetime_format_batch(spark):
    """toInterval* family, exp2/exp10/intExp2/intExp10 (exactness in the
    2^53+ zone), parseDateTimeBestEffort chain, format() placeholders,
    replaceOne, toYYYYMMDDhhmmss, wordCount."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    got, _ = translate_ch_sql(
        "SELECT CAST(TIMESTAMP'2020-01-01 00:00:00' + toIntervalDay(3) AS STRING) AS d3, "
        "CAST(TIMESTAMP'2020-01-01 00:00:00' + toIntervalQuarter(1) AS STRING) AS q1, "
        "exp2(3) AS e2, intExp2(58) AS i2, intExp10(18) AS i10, "
        "parseDateTimeBestEffort('15/08/2021 10:00:00') AS pb, "
        "parseDateTimeBestEffortOrNull('garbage') AS pn, "
        "CAST(parseDateTimeBestEffortOrZero('garbage') AS STRING) AS pz, "
        "parseDateTimeBestEffort('1600000000') AS pe, "
        "format('{} has {} items', 'cart', 5) AS f1, "
        "format('{1} then {0}', 'a', 'b') AS f2, "
        "replaceOne('aXbXc', 'X', '-') AS r1, "
        "toYYYYMMDDhhmmss(TIMESTAMP'2021-08-15 10:20:30') AS ymd, "
        "wordCount('  two  words ') AS wc, wordCount('') AS wc0"
    )
    r = spark.sql(got).first()
    assert r["d3"] == "2020-01-04 00:00:00" and r["q1"] == "2020-04-01 00:00:00"
    assert r["e2"] == 8.0
    assert r["i2"] == 2**58 and r["i10"] == 10**18  # exact, not shortest-repr
    assert str(r["pb"]).startswith("2021-08-15 10:00")
    assert r["pn"] is None and r["pz"].startswith("1970-01-01")
    assert str(r["pe"]).startswith("2020-09-13")
    assert r["f1"] == "cart has 5 items" and r["f2"] == "b then a"
    assert r["r1"] == "a-bXc"
    assert r["ymd"] == 20210815102030
    assert r["wc"] == 2 and r["wc0"] == 0
    with pytest.raises(ChTranslationError, match="mix"):
        translate_ch_sql("SELECT format('{} {0}', 'a', 'b')")
    # review batch: tab/newline edges (trim() strips only spaces), exact
    # readable tail units, out-of-range exponents ERROR instead of
    # wrapping, IPv4-mapped IPv6 validates
    got2, _ = translate_ch_sql(
        "SELECT wordCount('\\tfoo') AS wt, wordCount('\\t') AS wtab, "
        "formatReadableQuantity(2000000000000000.0) AS quad, "
        "formatReadableSize(2361183241434822606848.0) AS zib, "
        "isIPv6String('::ffff:192.168.0.1') AS v6m"
    )
    r2 = spark.sql(got2).first()
    assert r2["wt"] == 1 and r2["wtab"] == 0
    assert r2["quad"] == "2.00 quadrillion" and r2["zib"] == "2.00 ZiB"
    assert r2["v6m"] == 1
    gbad, _ = translate_ch_sql("SELECT intExp2(63) AS x")
    with pytest.raises(Exception, match="intExp2 exponent"):
        spark.sql(gbad).collect()
    gbad10, _ = translate_ch_sql("SELECT intExp10(19) AS x")
    with pytest.raises(Exception, match="intExp10 exponent"):
        spark.sql(gbad10).collect()
    from clickhouse_sinker_spark.functions.chdialect import ChTranslationError as _E
    with pytest.raises(_E, match="timezone"):
        translate_ch_sql("SELECT snowflakeToDateTime(1, 'Asia/Tokyo')")


def test_topk_moments_readable_tuple_batch(spark):
    """topK exact heavy-hitters, skewPop/kurtPop, formatReadableSize/
    Quantity, emptyArray*, tuple/tupleElement; new refusals are loud."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [(x,) for x in [1, 1, 1, 2, 2, 3]], "n int"
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql("SELECT topK(2)(n) AS tk FROM t")
    assert spark.sql(got).first()["tk"] == [1, 2]
    got, _ = translate_ch_sql(
        "SELECT skewPop(n) AS sk, kurtPop(n) AS ku FROM t"
    )
    r = spark.sql(got).first()
    # population moments for [1,1,1,2,2,3]: computed against closed form
    import statistics

    data = [1, 1, 1, 2, 2, 3]
    m = statistics.fmean(data)
    m2 = statistics.fmean([(x - m) ** 2 for x in data])
    m3 = statistics.fmean([(x - m) ** 3 for x in data])
    m4 = statistics.fmean([(x - m) ** 4 for x in data])
    assert abs(r["sk"] - m3 / m2**1.5) < 1e-9
    assert abs(r["ku"] - m4 / m2**2) < 1e-9
    got, _ = translate_ch_sql(
        "SELECT formatReadableSize(1536) AS s, "
        "formatReadableQuantity(1234567) AS q, "
        "emptyArrayInt64() AS ea, "
        "tupleElement(tuple(1, 'x'), 2) AS te"
    )
    r = spark.sql(got).first()
    assert r["s"] == "1.50 KiB" and r["q"] == "1.23 million"
    assert r["ea"] == [] and r["te"] == "x"
    for bad in (
        "SELECT normalizeQuery(s) FROM t",
        "SELECT deltaSum(n) FROM t",
        "SELECT runningConcurrency(n, n) FROM t",
        "SELECT sumWithOverflow(n) FROM t",
    ):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_quantile_exact_weighted(spark):
    """quantileExactWeighted(p)(x, w) → percentile(x, p, w): weights are
    exact row frequencies, so the answer equals the unrolled repetition."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    spark.createDataFrame(
        [(1.0, 1), (2.0, 3), (10.0, 1)], "x double, w int"
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql(
        "SELECT quantileExactWeighted(0.5)(x, w) AS med, "
        "medianExactWeighted(x, w) AS med2, "
        "quantilesExactWeighted(0.0, 1.0)(x, w) AS qs FROM t"
    )
    r = spark.sql(got).first()
    # unrolled multiset {1, 2, 2, 2, 10}: median 2, min 1, max 10
    assert r["med"] == 2.0 and r["med2"] == 2.0
    assert r["qs"] == [1.0, 10.0]


def test_batch3_array_map_stat_tail(spark):
    """Batch-3 translations: array folds, map_zip_with families,
    simpleLinearRegression/boundingRatio aggregates, IP/UUID string
    forms, snowflake ids, toTime, timeSlots clamping, groupConcat forms,
    throwIf laziness; the untranslatable tail refuses loudly."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [(1, 2.0, "a", [1, 2, 3], {"k": 1}), (5, 3.0, "b", [4], {"k": 2, "j": 5})],
        "n int, v double, s string, arr array<int>, m map<string,int>",
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql(
        "SELECT arrayProduct(arr) AS ap, arrayReverseSort(arr) AS ars, "
        "arrayFold((acc, x) -> acc + x, arr, 0) AS af, "
        "mapAdd(m, m) AS ma, mapUpdate(m, m) AS mu, mapFilter((k, v) -> v > 1, m) AS mf, "
        "bitHammingDistance(n, 7) AS hd, mid(s, 1, 1) AS md FROM t"
    )
    r = spark.sql(got).collect()
    assert r[0]["ap"] == 6.0 and r[0]["ars"] == [3, 2, 1] and r[0]["af"] == 6
    assert r[0]["ma"] == {"k": 2} and r[1]["mf"] == {"j": 5, "k": 2}
    assert r[0]["hd"] == 2 and r[0]["md"] == "a"
    got, _ = translate_ch_sql(
        "SELECT tupleElement(simpleLinearRegression(n, v), 1) AS k, "
        "tupleElement(simpleLinearRegression(n, v), 2) AS b, "
        "boundingRatio(n, v) AS br FROM t"
    )
    r = spark.sql(got).first()
    # points (1,2) and (5,3): slope 0.25, intercept 1.75
    assert r["k"] == 0.25 and r["b"] == 1.75 and r["br"] == 0.25
    got, _ = translate_ch_sql(
        "SELECT isIPv4String('1.2.3.4') AS i4, isIPv4String('999.1.1.1') AS i4b, "
        "isIPv6String('::1') AS i6, "
        "UUIDNumToString(UUIDStringToNum('01234567-89ab-cdef-0123-456789abcdef')) AS u, "
        "CAST(snowflakeToDateTime(1426860702735536128) AS STRING) AS sf, "
        "CAST(toTime(TIMESTAMP'2021-08-15 10:20:30') AS STRING) AS tt, "
        "size(timeSlots(TIMESTAMP'2021-08-15 10:20:30', 3600)) AS nsl, "
        "size(timeSlots(TIMESTAMP'2021-08-15 10:20:30', -50)) AS nneg"
    )
    r = spark.sql(got).first()
    assert (r["i4"], r["i4b"], r["i6"]) == (1, 0, 1)
    assert r["u"] == "01234567-89ab-cdef-0123-456789abcdef"
    assert r["sf"].startswith("2021-08-15 10:57:55")
    assert r["tt"] == "1970-01-02 10:20:30"
    assert r["nsl"] == 3  # 10:00, 10:30, 11:00
    assert r["nneg"] == 1  # clamped, not a descending sequence
    got, _ = translate_ch_sql(
        "SELECT groupConcat(s) AS g1, groupConcat('|')(s) AS g2, "
        "throwIf(1 > 2) AS ok FROM t"
    )
    r = spark.sql(got).first()
    assert sorted(r["g1"]) == ["a", "b"] and sorted(r["g2"].split("|")) == ["a", "b"]
    assert r["ok"] == 0
    with pytest.raises(Exception, match="boom"):
        g, _ = translate_ch_sql("SELECT throwIf(n > 2, 'boom') FROM t")
        spark.sql(g).collect()
    for bad in (
        "SELECT lemmatize('en', s) FROM t",
        "SELECT detectLanguage(s) FROM t",
        "SELECT regionToName(5)",  # geohashEncode/Decode translate since r8
        "SELECT groupArrayMovingSum(v) FROM t",
        "SELECT geoToH3(1.0, 2.0, 5) FROM t",
        "SELECT arrayFold((a, x, y) -> a, arr, arr, 0) FROM t",
    ):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_generic_aggregate_combinators(spark):
    """CH's generic -If / -OrNull / -OrDefault combinators attach to any
    aggregate: structural expansion to FILTER (WHERE …) / nullif /
    coalesce, with dedicated pushdown for composite bases (avgWeighted,
    kurtPop) whose translations cannot take a trailing FILTER."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    spark.createDataFrame(
        [(1, 1.0, 2, "a"), (1, 3.0, 1, "b"), (1, -1.0, 4, "c"), (1, 2.0, 1, "a")],
        "k int, v double, w int, s string",
    ).createOrReplaceTempView("t")
    got, _ = translate_ch_sql(
        "SELECT medianIf(v, v > 0) AS md, stddevPopIf(v, v > 0) AS sp, "
        "groupArrayIf(s, v > 2) AS ga, quantileExactIf(0.5)(v, v > 0) AS qe, "
        "countDistinctIf(s, v > 0) AS cd, avgWeightedIf(v, w, v > 0) AS aw, "
        "kurtPopIf(v, v > 0) AS kp, countIf(s, v > 0) AS c2 FROM t GROUP BY k"
    )
    r = spark.sql(got).first()
    assert r["md"] == 2.0 and abs(r["sp"] - 0.816496580927726) < 1e-12
    assert r["ga"] == ["b"] and r["qe"] == 2.0 and r["cd"] == 2
    assert abs(r["aw"] - 1.75) < 1e-12 and r["c2"] == 3
    # empty-group semantics: plain Spark NULL vs CH's OrNull/OrDefault
    got, _ = translate_ch_sql(
        "SELECT sumOrDefault(v) AS sd, avgOrDefault(v) AS ad, "
        "countOrNull(v) AS cn, uniqExactOrNull(s) AS un, "
        "groupArrayOrNull(s) AS gn, groupArrayOrDefault(s) AS gd, "
        "minOrNull(v) AS mn FROM t WHERE v > 100"
    )
    r = spark.sql(got).first()
    assert (r["sd"], r["ad"]) == (0.0, 0.0)
    assert r["cn"] is None and r["un"] is None and r["gn"] is None
    assert r["gd"] == [] and r["mn"] is None
    with pytest.raises(ChTranslationError, match="unknowable"):
        translate_ch_sql("SELECT anyOrDefault(s) FROM t")
    with pytest.raises(ChTranslationError, match="condition"):
        translate_ch_sql("SELECT sumIf(v) FROM t")


def test_math_round_string_batch(spark):
    """gcd/lcm (bounded-Euclid folds, CH's throw-on-zero), roundToExp2
    (exact bit arithmetic via bin()), roundDown (sorted-boundary fold),
    stringJaccardIndex[UTF8] (char-set Jaccard), replaceRegexpOne
    (first-match splice with backref expansion).  Cross-checked against
    DuckDB's native gcd/lcm/jaccard/first-match regexp_replace."""
    import duckdb

    r = spark.sql(T(
        "SELECT gcd(36, 60) AS g, lcm(4, 6) AS l, gcd(-12, 18) AS gn, "
        "gcd(270, 192) AS gf, "
        "roundToExp2(36) AS r2, roundToExp2(64) AS r2p, roundToExp2(1) AS r21, "
        "roundToExp2(0.7) AS r2f, roundToExp2(-5) AS r2n, "
        "roundDown(7, [2, 4, 8, 16]) AS rd, roundDown(100, [8, 2, 4]) AS rdh, "
        "roundDown(1, [2, 4, 8]) AS rdl, "
        "stringJaccardIndex('abc', 'bcd') AS j1, "
        "stringJaccardIndexUTF8('', '') AS j2, "
        "stringJaccardIndex('abc', '') AS j4, "
        "stringJaccardIndex('aab', 'ab') AS j3, "
        "replaceRegexpOne('xx-12-34', '[0-9]+', 'N') AS rr, "
        "replaceRegexpOne('ab-12-34', '([0-9])([0-9])', '\\2\\1') AS rb, "
        "replaceRegexpOne('nohit', '[0-9]+', 'N') AS rn"
    )).first()
    assert (r["g"], r["l"], r["gn"], r["gf"]) == (12, 12, 6, 6)
    # exact powers of two must stay put — the float-log2 failure mode
    assert (r["r2"], r["r2p"], r["r21"], r["r2f"], r["r2n"]) == (32, 64, 1, 0, 0)
    # boundary array need not be pre-sorted; below-lowest clamps up
    assert (r["rd"], r["rdh"], r["rdl"]) == (4, 8, 2)
    # CH early-returns 0 for an empty haystack or needle (NOT J(∅,∅)=1)
    assert abs(r["j1"] - 0.5) < 1e-15 and r["j2"] == 0.0 and r["j3"] == 1.0
    assert r["j4"] == 0.0
    assert (r["rr"], r["rb"], r["rn"]) == ("xx-N-34", "ab-21-34", "nohit")
    dd = duckdb.sql(
        "SELECT gcd(36, 60), lcm(4, 6), gcd(-12, 18), jaccard('abc', 'bcd'), "
        "regexp_replace('xx-12-34', '[0-9]+', 'N')"
    ).fetchone()
    assert dd == (12, 12, 6, 0.5, "xx-N-34")
    # CH throws on zero args to gcd/lcm — mirrored as a lazy raise_error
    with pytest.raises(Exception, match="division by zero"):
        spark.sql(T("SELECT gcd(0, 5) AS g")).collect()
    # a literal \\1 (escaped backslash + digit) is NOT a backref
    r = spark.sql(T(
        r"SELECT replaceRegexpOne('a1b', '([0-9])', '\\\1') AS x"
    )).first()
    assert r["x"] == "a\\1b"


def test_entropy_topk_weighted_map_series(spark):
    """entropy (deterministic sorted-distinct fold), topKWeighted
    (exact weight-sum ranking), sumMapFiltered (pre-fold map_filter),
    mapPopulateSeries (array and map forms, max clamp, empty input)."""
    import duckdb

    spark.createDataFrame(
        [(1,), (1,), (2,), (4,)], "x int"
    ).createOrReplaceTempView("ent_t")
    e = spark.sql(T("SELECT entropy(x) AS e FROM ent_t")).first()["e"]
    assert abs(e - 1.5) < 1e-12
    assert abs(duckdb.sql(
        "SELECT entropy(x) FROM (VALUES (1),(1),(2),(4)) t(x)"
    ).fetchone()[0] - e) < 1e-12

    spark.createDataFrame(
        [("a", 1), ("b", 5), ("a", 2), ("c", 4)], "v string, w int"
    ).createOrReplaceTempView("tkw_t")
    assert spark.sql(
        T("SELECT topKWeighted(2)(v, w) AS t FROM tkw_t")
    ).first()["t"] == ["b", "c"]  # b:5 > c:4 > a:3
    with pytest.raises(ChTranslationError, match="combinator"):
        T("SELECT topKWeighted(v, w) FROM tkw_t")

    spark.createDataFrame(
        [([1, 2], [10, 20]), ([2, 3], [1, 2])],
        "k array<int>, v array<int>",
    ).createOrReplaceTempView("smf_t")
    s = spark.sql(
        T("SELECT sumMapFiltered([2, 3])(k, v) AS s FROM smf_t")
    ).first()["s"]
    assert s["keys"] == [2, 3] and s["values"] == [21, 2]

    r = spark.sql(T(
        "SELECT mapPopulateSeries([1, 4], [11, 44]) AS m, "
        "mapPopulateSeries([1, 4], [11, 44], 6) AS m6, "
        "mapPopulateSeries([4, 1], [44, 11], 2) AS mc, "
        "mapPopulateSeries(map(1, 5)) AS mm, "
        "mapPopulateSeries(slice([1], 1, 0), slice([1], 1, 0)) AS me"
    )).first()
    assert r["m"]["keys"] == [1, 2, 3, 4] and r["m"]["values"] == [11, 0, 0, 44]
    assert r["m6"]["keys"] == [1, 2, 3, 4, 5, 6]
    assert r["m6"]["values"] == [11, 0, 0, 44, 0, 0]
    # explicit max BELOW some keys drops them (series is min..max)
    assert r["mc"]["keys"] == [1, 2] and r["mc"]["values"] == [11, 0]
    assert dict(r["mm"]) == {1: 5}
    assert list(r["me"]["keys"]) == [] and list(r["me"]["values"]) == []


def test_batch2_mac_cidr_bitmask_moments(spark):
    """Batch-2 translations: bitmaskToList (power-of-two decomposition),
    MACNumToString/MACStringToNum (round-trip + malformed→0),
    IPv4CIDRToRange (subnet bounds incl. the /0 and /32 edges), mapApply
    (tuple-valued lambda via map_entries), skewSamp/kurtSamp (population
    builtins scaled by the exact ((n-1)/n)^k factors), and
    maxIntersections[Position] (sweep-line fold, half-open intervals)."""
    r = spark.sql(T(
        "SELECT bitmaskToList(50) AS b, bitmaskToList(0) AS b0, "
        "MACNumToString(1108152157446) AS mn, "
        "MACStringToNum('01:02:03:04:05:06') AS ms, "
        "MACStringToNum('zz:bad') AS msb, "
        "IPv4CIDRToRange('192.168.5.2', 16) AS cr, "
        "IPv4CIDRToRange('10.1.2.3', 32) AS cr32, "
        "IPv4CIDRToRange('10.1.2.3', 0) AS cr0, "
        "mapApply((k, v) -> (upper(k), v * 2), map('a', 1, 'b', 2)) AS ma"
    )).first()
    assert r["b"] == "2,16,32" and r["b0"] == ""
    assert r["mn"] == "01:02:03:04:05:06"
    assert r["ms"] == 1108152157446 and r["msb"] == 0
    assert (r["cr"]["_1"], r["cr"]["_2"]) == ("192.168.0.0", "192.168.255.255")
    assert (r["cr32"]["_1"], r["cr32"]["_2"]) == ("10.1.2.3", "10.1.2.3")
    assert (r["cr0"]["_1"], r["cr0"]["_2"]) == ("0.0.0.0", "255.255.255.255")
    assert dict(r["ma"]) == {"A": 2, "B": 4}

    import math
    xs = [1.0, 2.0, 4.0, 8.0, 3.0]
    spark.createDataFrame([(x,) for x in xs], "v double") \
        .createOrReplaceTempView("sk_t")
    n = len(xs)
    mu = sum(xs) / n
    m2 = sum((x - mu) ** 2 for x in xs) / n
    m3 = sum((x - mu) ** 3 for x in xs) / n
    m4 = sum((x - mu) ** 4 for x in xs) / n
    svar = m2 * n / (n - 1)
    row = spark.sql(T("SELECT skewSamp(v) AS s, kurtSamp(v) AS k FROM sk_t")).first()
    assert abs(row["s"] - m3 / svar ** 1.5) < 1e-12
    assert abs(row["k"] - m4 / svar ** 2) < 1e-12

    spark.createDataFrame(
        [(1, 5), (2, 6), (3, 4), (10, 12)], "s int, e int"
    ).createOrReplaceTempView("iv_t")
    row = spark.sql(T(
        "SELECT maxIntersections(s, e) AS m, "
        "maxIntersectionsPosition(s, e) AS p FROM iv_t"
    )).first()
    # [1,5) [2,6) [3,4) [10,12): overlap reaches 3 first at coordinate 3;
    # ends close BEFORE starts open at equal coordinates (half-open)
    assert row["m"] == 3 and row["p"] == 3.0
    row = spark.sql(T(
        "SELECT maxIntersections(s, e) AS m FROM iv_t WHERE s = 1 OR s = 10"
    )).first()
    assert row["m"] == 1  # touching [1,5) and [10,12) never overlap
    with pytest.raises(Exception, match="negative"):
        spark.sql(T("SELECT bitmaskToList(-1) AS x")).collect()
    with pytest.raises(ChTranslationError, match="lambda"):
        T("SELECT mapApply(k -> k, map('a', 1))")


def test_group_array_insert_at(spark):
    """groupArrayInsertAt(default[, size])(x, pos): positional array
    build with explicit hole filler; duplicate positions keep the
    MINIMUM value (deterministic where CH keeps 'any'); the bare form
    is refused (type default unknowable at SQL-text level)."""
    spark.createDataFrame(
        [("a", 0), ("b", 2), ("c", 2), ("d", 5)], "x string, p int"
    ).createOrReplaceTempView("gai_t")
    r = spark.sql(T(
        "SELECT groupArrayInsertAt('-')(x, p) AS a, "
        "groupArrayInsertAt('-', 4)(x, p) AS a4 FROM gai_t"
    )).first()
    assert r["a"] == ["a", "-", "b", "-", "-", "d"]
    assert r["a4"] == ["a", "-", "b", "-"]
    with pytest.raises(ChTranslationError, match="parameterized"):
        T("SELECT groupArrayInsertAt(x, p) FROM gai_t")


def test_to_week_mode0(spark):
    """toWeek mode 0 (the CH default): Sunday-start weeks, week 1 = the
    first week containing a Sunday, pre-Sunday days week 0 — pinned
    against hand-checked MySQL WEEK(d, 0) values across Jan-1 weekday
    shapes (Sunday/Monday/Friday/Saturday years) and the 53-week tail."""
    cases = {
        "2024-01-01": 0, "2024-01-07": 1, "2024-01-14": 2,   # Jan 1 Monday
        "2023-01-01": 1, "2023-12-31": 53,                   # Jan 1 Sunday
        "2021-01-01": 0, "2021-01-03": 1,                    # Jan 1 Friday
        "2022-01-01": 0, "2022-01-02": 1,                    # Jan 1 Saturday
    }
    sel = ", ".join(
        f"toWeek(toDate('{d}')) AS w{i}" for i, d in enumerate(cases)
    )
    r = spark.sql(T(f"SELECT {sel}")).first()
    for i, (d, want) in enumerate(cases.items()):
        assert r[f"w{i}"] == want, (d, r[f"w{i}"], want)
    assert spark.sql(
        T("SELECT toWeek(toDate('2024-01-01'), 3) AS w")
    ).first()["w"] == 1
    with pytest.raises(ChTranslationError, match="mode"):
        T("SELECT toWeek(toDate('2024-01-01'), 2)")


def test_qualify_untuple_apply_columns(spark):
    """QUALIFY → hoisted helper column + outer WHERE with * EXCEPT
    (identical evaluation order: windows after grouping, filter after
    windows); untuple(col) → struct star expansion; * APPLY / COLUMNS
    matchers refuse loudly instead of reaching Spark's parser."""
    spark.createDataFrame(
        [(1, 2.0), (1, 3.0), (2, 1.0)], "u int, v double"
    ).createOrReplaceTempView("q_t")
    got, notes = translate_ch_sql(
        "SELECT u, v FROM q_t QUALIFY row_number() OVER "
        "(PARTITION BY u ORDER BY v DESC) = 1 ORDER BY u"
    )
    assert [(r["u"], r["v"]) for r in spark.sql(got).collect()] == [
        (1, 3.0), (2, 1.0)
    ]
    assert any("QUALIFY" in n for n in notes)
    # post-aggregation window predicate
    got, _ = translate_ch_sql(
        "SELECT u, sum(v) AS sv FROM q_t GROUP BY u "
        "QUALIFY rank() OVER (ORDER BY sum(v) DESC) = 1"
    )
    assert [(r["u"], r["sv"]) for r in spark.sql(got).collect()] == [(1, 5.0)]
    spark.sql("SELECT named_struct('a', 1, 'b', 2) AS st").createOrReplaceTempView(
        "q_tt"
    )
    got, _ = translate_ch_sql("SELECT untuple(st) FROM q_tt")
    r = spark.sql(got).first()
    assert (r["a"], r["b"]) == (1, 2)
    for bad, frag in [
        ("SELECT * APPLY(sum) FROM q_t", "APPLY"),
        ("SELECT COLUMNS('v.*') FROM q_t", "COLUMNS"),
        ("SELECT DISTINCT u FROM q_t QUALIFY row_number() OVER (ORDER BY u) = 1",
         "DISTINCT"),
        ("SELECT untuple(u + 1) FROM q_t", "column reference"),
        ("SELECT * FROM (SELECT u FROM q_t QUALIFY row_number() OVER (ORDER BY u) = 1)",
         "subquery"),
    ]:
        with pytest.raises(ChTranslationError, match=frag):
            translate_ch_sql(bad)


def test_batch3_passthrough_sweep(spark):
    """The silent-passthrough sweep batch: names that previously reached
    Spark's parser as unresolved routines now either translate exactly
    (relative date numbers, UTF8 string forms — Spark strings ARE
    code-point native, multiSearch family, vector norms/distances,
    -Stable aggregate renames, fixed CH buckets) or refuse loudly
    (engine introspection, tuple arithmetic, dict getters)."""
    r = spark.sql(T(
        "SELECT toRelativeMonthNum(toDate('2024-03-05')) AS rm, "
        "toRelativeQuarterNum(toDate('2024-03-05')) AS rq, "
        "dateTrunc('month', toDate('2024-03-05')) AS dt, "
        "fromModifiedJulianDay(60310) AS mj, "
        "arrayLastIndex(x -> x > 1, [3, 1, 2, 1]) AS ali, "
        "arrayElement([10, 20, 30], -1) AS aen, "
        "hasSubstr([1, 2, 3, 4], [2, 3]) AS hs1, "
        "hasSubstr([1, 2, 3], [2, 4]) AS hs0, "
        "bitTestAll(7, 0, 1, 2) AS bta, bitTestAny(2, 0, 2) AS btn0, "
        "leftUTF8('héllo', 2) AS lu, positionUTF8('héllo', 'llo') AS pu, "
        "multiSearchFirstPosition('hello world', ['xx', 'wor', 'llo']) AS mfp, "
        "multiSearchFirstIndex('hello world', ['xx', 'wor', 'llo']) AS mfi, "
        "countSubstringsCaseInsensitive('AbabAB', 'ab') AS cs, "
        "splitByWhitespace('  a  bb c ') AS sw, "
        "tryBase64Decode('YWJj') AS b64, tryBase64Decode('!bad!') AS b64b, "
        "regexpExtract('a12b', '[0-9]+') AS rex, "
        "regexpQuoteMeta('a.b*c') AS rqm, "
        "dotProduct([1.0, 2.0], [3.0, 4.0]) AS dp, "
        "L2Distance([0.0, 0.0], [3.0, 4.0]) AS d2, "
        "round(cosineDistance([1.0, 0.0], [0.0, 1.0]), 6) AS cd, "
        "normalizeL2([3.0, 4.0]) AS nl2, "
        "round(arrayJaccardIndex([1, 2, 3], [2, 3, 4]), 6) AS aj, "
        "roundAge(22) AS ra, roundDuration(95) AS rd, "
        "truncate(-1.57, 1) AS tn, "
        "varPopStable(x) AS vp "
        "FROM (SELECT explode(array(1.0, 3.0)) AS x)"
    )).first()
    assert r["rm"] == 2024 * 12 + 3 and r["rq"] == 2024 * 4
    assert str(r["dt"])[:10] == "2024-03-01" and str(r["mj"]) == "2024-01-01"
    assert r["ali"] == 3 and r["aen"] == 30
    assert r["hs1"] is True and r["hs0"] is False
    assert r["bta"] is True and r["btn0"] is False
    assert (r["lu"], r["pu"]) == ("hé", 3)
    assert (r["mfp"], r["mfi"]) == (3, 3)  # leftmost occurrence wins
    assert r["cs"] == 3 and r["sw"] == ["a", "bb", "c"]
    assert (r["b64"], r["b64b"]) == ("abc", "")
    assert r["rex"] == "12" and r["rqm"] == "a\\.b\\*c"
    assert (r["dp"], r["d2"], r["cd"]) == (11.0, 5.0, 1.0)
    assert r["nl2"] == [0.6, 0.8] and r["aj"] == 0.5
    assert (r["ra"], r["rd"]) == (18, 60)
    assert abs(r["tn"] - (-1.5)) < 1e-12 and r["vp"] == 1.0
    for bad in (
        "SELECT toRelativeWeekNum(ts) FROM events",
        "SELECT queryID()",
        "SELECT tuplePlus(a, b) FROM t",
        "SELECT dictGetString('d', 'a', k) FROM t",
        "SELECT generateUUIDv7()",  # arrayAUC translates since r9
    ):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_tranche2_passthrough_sweep(spark):
    """Sweep tranche 2: ISO-year arithmetic (Thursday rule — no
    week-year format pattern, which Spark forbids), year-zero day
    counts, make* constructors, YYYYMMDD parsers (NULL on invalid via
    try_to_date), sumCount tuple, quantileGK → percentile_approx (the
    same Greenwald-Khanna sketch), array fill/shingles/enumerate folds,
    IPv4 CIDR membership, bit decompositions, decimal width casts, map
    predicates, and the nondeterministic/introspective refusal tail."""
    r = spark.sql(T(
        "SELECT toISOYear(toDate('2021-01-01')) AS iy, "
        "toStartOfISOYear(toDate('2021-06-15')) AS sy, "
        "toDaysSinceYearZero(toDate('1970-01-01')) AS dz, "
        "fromDaysSinceYearZero(719528) AS fz, "
        "toLastDayOfWeek(toDate('2024-01-03')) AS lw, "
        "makeDate(2024, 2, 29) AS md, "
        "YYYYMMDDToDate(20240229) AS yd, YYYYMMDDToDate(20241399) AS ydbad, "
        "timestampSub(HOUR, 2, TIMESTAMP '2024-01-01 12:00:00') AS tsub, "
        "arrayCumSumNonNegative([1, -3, 4, -1]) AS acn, "
        "arrayShingles([1, 2, 3, 4], 2) AS ash, "
        "arrayEnumerateUniq([10, 20, 10, 10]) AS aeu, "
        "arrayFill(x -> x IS NOT NULL, [NULL, 2, NULL, 5]) AS af, "
        "arrayReverseFill(x -> x IS NOT NULL, [1, NULL, 3, NULL]) AS arf, "
        "isIPAddressInRange('192.168.5.2', '192.168.0.0/16') AS ir1, "
        "isIPAddressInRange('10.0.0.1', '192.168.0.0/16') AS ir0, "
        "bitmaskToArray(50) AS bma, bitPositionsToArray(50) AS bpa, "
        "toDecimal32(1.5, 2) AS d32, widthBucket(5.3, 0, 10, 5) AS wb, "
        "editDistanceUTF8('kitten', 'sitting') AS ed, "
        "mapExists((k, v) -> v > 1, map('a', 1, 'b', 2)) AS me, "
        "mapAll((k, v) -> v > 0, map('a', 1, 'b', 2)) AS mall, "
        "isZeroOrNull(0) AS zn, isZeroOrNull(5) AS zn3"
    )).first()
    # Jan 1 2021 (Friday) belongs to ISO week 53 of 2020
    assert r["iy"] == 2020 and str(r["sy"]) == "2021-01-04"
    assert r["dz"] == 719528 and str(r["fz"]) == "1970-01-01"
    assert str(r["lw"]) == "2024-01-06"  # mode-0 weeks end Saturday
    assert str(r["md"]) == "2024-02-29"
    assert str(r["yd"]) == "2024-02-29" and r["ydbad"] is None
    assert str(r["tsub"]) == "2024-01-01 10:00:00"
    assert r["acn"] == [1, 0, 4, 3]
    assert r["ash"] == [[1, 2], [2, 3], [3, 4]]
    assert r["aeu"] == [1, 1, 2, 3]
    assert r["af"] == [None, 2, 2, 5] and r["arf"] == [1, 3, 3, None]
    assert r["ir1"] is True and r["ir0"] is False
    assert r["bma"] == [2, 16, 32] and r["bpa"] == [1, 4, 5]
    assert float(r["d32"]) == 1.5 and r["wb"] == 3
    assert r["ed"] == 3 and r["me"] is True and r["mall"] is True
    assert r["zn"] is True and r["zn3"] is False
    spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "x double"
    ).createOrReplaceTempView("qgk_t")
    r = spark.sql(T(
        "SELECT quantileGK(100, 0.5)(x) AS q, "
        "quantilesGK(100, 0.25, 0.75)(x) AS qs, "
        "sumCount(x) AS sc FROM qgk_t"
    )).first()
    assert 49 <= r["q"] <= 52 and len(r["qs"]) == 2
    assert (r["sc"]["_1"], r["sc"]["_2"]) == (5050.0, 100)
    for bad in (
        # mapSort translates since r9 — the limit-N partial form keeps
        # the refusal (CH leaves the tail order unspecified)
        "SELECT mapPartialSort(m, 2) FROM t",
        "SELECT cityHash64(s) FROM t",
        "SELECT tumble(ts, iv) FROM t",
        "SELECT groupArraySample(3)(x) FROM t",
        "SELECT histogram(5)(x) FROM t",  # divideDecimal translates since r8
    ):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_array_normalized_gini(spark):
    """arrayNormalizedGini (r9): the published normalized Gini — the CH
    docs example reduces to the exact rationals (13/72, 19/72, 13/19),
    re-derived independently from the formula (labels by prediction
    desc, cumulative shares).  The UDF computes exact rationals and
    rounds once; CH's float fold may differ in the final ulp (chudfs
    note), so the pins compare at 1e-15."""
    from fractions import Fraction

    from clickhouse_sinker_spark.functions.chudfs import (
        _ch_array_normalized_gini, register_ch_udfs,
    )

    g = _ch_array_normalized_gini([0.9, 0.3, 0.8, 0.7], [6, 1, 0, 2])
    assert g == [float(Fraction(13, 72)), float(Fraction(19, 72)),
                 float(Fraction(13, 19))]
    # degenerate gates
    assert _ch_array_normalized_gini([], []) is None
    assert _ch_array_normalized_gini([0.5, 0.4], [0, 0]) is None
    assert _ch_array_normalized_gini([0.5, 0.4], [1, None]) is None
    # perfect ranking normalizes to 1, anti-ranking to -1
    perfect = _ch_array_normalized_gini([0.9, 0.5, 0.1], [5, 3, 1])
    assert abs(perfect[2] - 1.0) < 1e-15
    anti = _ch_array_normalized_gini([0.1, 0.5, 0.9], [5, 3, 1])
    assert abs(anti[2] + 1.0) < 1e-15
    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT arrayNormalizedGini([0.9, 0.3, 0.8, 0.7], [6, 1, 0, 2]) AS g")
    r = spark.sql(got).first()
    assert (r["g"]["_1"], r["g"]["_2"], r["g"]["_3"]) == tuple(g)


def test_tuple_arithmetic(spark):
    """r9 tuple-arithmetic closure — every CH docs tuple-functions
    example reproduced; translatable exactly when the tuple arity is
    visible at SQL-text level ((a, b) literal / tuple(...) call /
    the named_struct an earlier pass emitted), tuple-typed columns
    refuse."""
    r = spark.sql(T(
        "SELECT tuplePlus((1, 2), (2, 3)) AS tp, "
        "tupleMinus((1, 2), (2, 3)) AS tm, "
        "tupleMultiply((1, 2), (2, 3)) AS tx, "
        "tupleDivide((1, 2), (2, 3)) AS td, "
        "tupleNegate((1, 2)) AS tn, "
        "tupleMultiplyByNumber((1, 2), -2.1) AS tmn, "
        "tupleDivideByNumber((1, 2), 0.5) AS tdn, "
        "tupleHammingDistance((1, 2, 3), (3, 2, 1)) AS hd, "
        "tupleElement(tupleConcat((1, 2), tuple(3, 4)), 4) AS tc, "
        "tupleHammingDistance((1, 2), (1, 2)) AS hd0"
    )).first()
    assert (r["tp"]["_1"], r["tp"]["_2"]) == (3, 5)
    assert (r["tm"]["_1"], r["tm"]["_2"]) == (-1, -1)
    assert (r["tx"]["_1"], r["tx"]["_2"]) == (2, 6)
    assert r["td"]["_1"] == 0.5 and abs(r["td"]["_2"] - 2 / 3) < 1e-15
    assert (r["tn"]["_1"], r["tn"]["_2"]) == (-1, -2)
    # Spark types the -2.1 literal as DECIMAL(2,1), so the products are
    # exact decimals (CH returns Float64 — same values)
    assert float(r["tmn"]["_1"]) == -2.1 and float(r["tmn"]["_2"]) == -4.2
    assert (r["tdn"]["_1"], r["tdn"]["_2"]) == (2.0, 4.0)
    assert r["hd"] == 2 and r["hd0"] == 0 and r["tc"] == 4
    # tuple-typed columns / arity mismatches / bare parenthesization
    for bad in (
        "SELECT tuplePlus(t1, t2) FROM t",
        "SELECT tuplePlus((1, 2), (1, 2, 3)) FROM t",
        "SELECT tupleNegate((5)) FROM t",
        "SELECT tupleHammingDistance((1, 2), x) FROM t",
    ):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_tranche3_passthrough_sweep(spark):
    """Sweep tranche 3: UUID forms (toUUID throws like CH, v7 ms
    extraction, ULID Crockford-base32 remap through conv()), IPv4
    strict/zero forms, class-C rendering, firstLine, whole-token search
    (hasToken family with the single-token needle guard), stringCompare,
    formatReadableDecimalSize (base 1000), first/lastValue renames,
    singleValueOrNull, intervalLengthSum sweep-line, ms-precision
    starts, snowflake64 round-trip; hash/introspection/nondeterministic
    tails refuse."""
    r = spark.sql(T(
        "SELECT toUUID('12345678-9ABC-DEF0-1122-334455667788') AS u, "
        "toUUIDOrZero('nope') AS uz, "
        "UUIDv7ToDateTime('017F22E2-79B0-7CC3-98C4-DC0C0C07398F') AS u7, "
        "ULIDStringToDateTime('01GNB2HA1N00000000000000') AS ul, "
        "toIPv4('10.1.2.3') AS i4, toIPv4OrZero('999.1.1.1') AS i4z, "
        "IPv4NumToStringClassC(167838211) AS cc, "
        "firstLine('ab\\ncd') AS fl, "
        "hasToken('hello big world', 'big') AS ht1, "
        "hasToken('hellobig world', 'big') AS ht0, "
        "hasTokenCaseInsensitive('Hello BIG world', 'big') AS htc, "
        "hasTokenOrNull('x', 'a b') AS htn, "
        "substringIndexUTF8('a.b.c', '.', 2) AS si, "
        "stringCompare('abc', 'abd') AS sc, "
        "formatReadableDecimalSize(1500000) AS frd, "
        "toStartOfMillisecond(TIMESTAMP '2024-01-01 00:00:00.123456') AS ms, "
        "toMillisecond(TIMESTAMP '2024-01-01 00:00:00.123456') AS msc, "
        "dateTime64ToSnowflake(snowflakeToDateTime64(6832626392367925248)) "
        "AS sfr"
    )).first()
    assert r["u"] == "12345678-9abc-def0-1122-334455667788"
    assert r["uz"] == "00000000-0000-0000-0000-000000000000"
    assert r["u7"].year == 2022 and r["ul"].year == 2022
    assert r["i4"] == "10.1.2.3" and r["i4z"] == "0.0.0.0"
    assert r["cc"] == "10.1.2.xxx" and r["fl"] == "ab"
    assert (r["ht1"], r["ht0"], r["htc"], r["htn"]) == (True, False, True, None)
    assert r["si"] == "a.b" and r["sc"] == -1
    assert r["frd"] == "1.50 MB"
    assert str(r["ms"]) == "2024-01-01 00:00:00.123000" and r["msc"] == 123
    # snowflake round-trip zeroes the sub-ms sequence bits
    assert r["sfr"] == 6832626392367925248 - (6832626392367925248 % (1 << 22))
    spark.createDataFrame([(1,), (1,)], "x int").createOrReplaceTempView("sv_t")
    assert spark.sql(T("SELECT singleValueOrNull(x) AS s FROM sv_t")).first()["s"] == 1
    spark.createDataFrame(
        [(0, 5), (3, 8), (10, 12)], "s int, e int"
    ).createOrReplaceTempView("il_t")
    assert spark.sql(
        T("SELECT intervalLengthSum(s, e) AS l FROM il_t")
    ).first()["l"] == 10.0  # union [0,8) ∪ [10,12)
    with pytest.raises(Exception, match="single token"):
        spark.sql(T("SELECT hasToken('x y', 'a b') AS h")).collect()
    for bad in (
        "SELECT murmurHash3_32(x) FROM t",
        "SELECT joinGet('t', 'c', k) FROM t",
        "SELECT randomString(8)",  # theilsU translates since r9
        "SELECT deltaSum(v) FROM t",  # exponentialMovingAverage translates since r8
    ):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_review2_fidelity_fixes(spark):
    """Review-pass regressions: makeDateTime64 keeps the fraction
    (folded exactly into the seconds argument as decimal), NULL inputs
    propagate through toUUID[OrZero]/toIPv4[OrZero]/stringCompare
    instead of raising or misclassifying, the decimal-size ladder
    reaches ZB/YB, ms extraction floors correctly pre-1970,
    regexpQuoteMeta escapes CH's exact set (: and -, not }),
    initcap[UTF8] capitalizes after ANY non-alphanumeric (CH words),
    QUALIFY's trailing ORDER BY may reference non-projected source
    columns (hoisted as helper columns), and isIPAddressInRange
    raises on garbage / returns false on family mismatch instead of
    silently treating them as 0.0.0.0."""
    r = spark.sql(T(
        "SELECT makeDateTime64(2023, 5, 15, 10, 30, 45, 779) AS m7, "
        "makeDateTime64(2023, 5, 15, 10, 30, 45, 12345, 5) AS m8, "
        "toUUID(CAST(NULL AS STRING)) AS un, "
        "toUUIDOrZero(CAST(NULL AS STRING)) AS uzn, "
        "toIPv4(CAST(NULL AS STRING)) AS i4n, "
        "stringCompare(CAST(NULL AS STRING), 'x') AS scn, "
        "formatReadableDecimalSize(1.5e21) AS zb, "
        "toMillisecond(TIMESTAMP '1969-12-31 23:59:59.5') AS negms, "
        "regexpQuoteMeta('a:b-c}d') AS rqm, "
        "initcap('foo-bar baz_2nd') AS ic, "
        "isIPAddressInRange('::1', '10.0.0.0/8') AS v6mm"
    )).first()
    assert str(r["m7"]) == "2023-05-15 10:30:45.779000"
    assert str(r["m8"]) == "2023-05-15 10:30:45.123450"
    assert r["un"] is None and r["uzn"] is None and r["i4n"] is None
    assert r["scn"] is None
    assert r["zb"] == "1.50 ZB" and r["negms"] == 500
    assert r["rqm"] == "a\\:b\\-c}d"
    assert r["ic"] == "Foo-Bar Baz_2nd"  # '2' is alnum: '2nd' is one word
    assert r["v6mm"] is False
    spark.createDataFrame(
        [(1, 2.0, 10), (1, 3.0, 5), (2, 1.0, 7)], "u int, v double, ts int"
    ).createOrReplaceTempView("qf_t")
    got, _ = translate_ch_sql(
        "SELECT u, v FROM qf_t QUALIFY row_number() OVER "
        "(PARTITION BY u ORDER BY v DESC) = 1 ORDER BY ts DESC LIMIT 2"
    )
    rows = spark.sql(got).collect()
    assert [(x["u"], x["v"]) for x in rows] == [(2, 1.0), (1, 3.0)]
    assert spark.sql(got).columns == ["u", "v"]  # helpers dropped
    with pytest.raises(Exception, match="neither IPv4"):
        spark.sql(T(
            "SELECT isIPAddressInRange('garbage', '10.0.0.0/8') AS x"
        )).collect()
    with pytest.raises(ChTranslationError):
        T("SELECT bitTestAll(7) FROM t")
    with pytest.raises(ChTranslationError, match="precision"):
        T("SELECT makeDateTime64(2023, 1, 1, 0, 0, 0, 1, 9)")


def test_cli_set_exists_outfile(capsys, tmp_path):
    """clickhouse-client parity additions: SET statements acknowledged
    (standalone and as multi-statement prefixes), SHOW DATABASES,
    EXISTS TABLE, and SELECT … INTO OUTFILE writing the result file."""
    from clickhouse_sinker_spark.__main__ import main

    from .conftest import SF_DIR

    main(["--query", "SET max_threads = 4", "--data-dir", SF_DIR,
          "--master", "local[4]"])
    cap = capsys.readouterr()
    assert "SET max_threads acknowledged" in cap.err and cap.out == ""
    main(["--query", "SHOW DATABASES", "--data-dir", SF_DIR,
          "--master", "local[4]"])
    assert capsys.readouterr().out.strip() == "default"
    main(["--query", "EXISTS TABLE events", "--data-dir", SF_DIR,
          "--master", "local[4]"])
    assert capsys.readouterr().out.strip() == "1"
    main(["--query", "EXISTS nope", "--data-dir", SF_DIR,
          "--master", "local[4]"])
    assert capsys.readouterr().out.strip() == "0"
    # multi-statement SET prefix + INTO OUTFILE
    dest = tmp_path / "out.csv"
    main(["--query",
          "SET send_logs_level = 'trace'; "
          f"SELECT count(*) AS n FROM events INTO OUTFILE '{dest}'",
          "--data-dir", SF_DIR, "--master", "local[4]"])
    cap = capsys.readouterr()
    assert "SET send_logs_level acknowledged" in cap.err
    assert f"wrote {dest}" in cap.err
    lines = dest.read_text().strip().splitlines()
    assert lines[0] == "n" and int(lines[1]) > 0


def test_quantile_exact_low_high(spark):
    """quantileExactLow/High + medianExactLow/High: python
    median_low/median_high semantics (the documented CH contract) via
    exact element selection over the sorted list; non-median levels
    refuse (CH's general-level index rule is engine-internal)."""
    spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (4.0,)], "x double"
    ).createOrReplaceTempView("qlh_t")
    r = spark.sql(T(
        "SELECT quantileExactLow(0.5)(x) AS lo, "
        "quantileExactHigh(0.5)(x) AS hi, "
        "medianExactLow(x) AS mlo, medianExactHigh(x) AS mhi, "
        "medianExact(x) AS m FROM qlh_t"
    )).first()
    assert (r["lo"], r["hi"], r["mlo"], r["mhi"]) == (2.0, 3.0, 2.0, 3.0)
    assert r["m"] == 2.5  # the interpolating sibling is untouched
    with pytest.raises(ChTranslationError, match="median_low"):
        T("SELECT quantileExactLow(0.9)(x) FROM qlh_t")


def test_cli_optimize_noop(capsys):
    """OPTIMIZE TABLE [FINAL] acknowledges as a no-op with the
    merge-on-read rationale; unknown tables still error."""
    from clickhouse_sinker_spark.__main__ import main

    from .conftest import SF_DIR

    main(["--query", "OPTIMIZE TABLE events FINAL", "--data-dir", SF_DIR,
          "--master", "local[4]"])
    cap = capsys.readouterr()
    assert "OPTIMIZE events acknowledged" in cap.err and "FINAL" in cap.err
    with pytest.raises(SystemExit, match="unknown table"):
        main(["--query", "OPTIMIZE TABLE nope", "--data-dir", SF_DIR,
              "--master", "local[4]"])


def test_tranche4_datetime_parse_aliases(spark):
    """Tranche 4: parseDateTime family through the shared MySQL %-token
    converter (base form throws on mismatch under ANSI, OrNull/OrZero
    soften), Joda-syntax pass-throughs (Joda = java.time on the common
    letters), addDate/subDate interval-or-days forms, dateSub 3-arg
    (Spark has dateadd but no datesub), splitByNonAlpha."""
    r = spark.sql(T(
        "SELECT parseDateTime('2024-03-05 10:20:30', '%Y-%m-%d %H:%i:%s') AS p, "
        "parseDateTime('2024-03-05 10:20:30') AS pd, "
        "parseDateTimeOrNull('garbage', '%Y-%m-%d') AS pn, "
        "parseDateTimeOrZero('garbage', '%Y-%m-%d') AS pz, "
        "parseDateTimeInJodaSyntax('2024-03-05', 'yyyy-MM-dd') AS pj, "
        "formatDateTimeInJodaSyntax(TIMESTAMP '2024-03-05 01:02:03', "
        "'yyyy/MM/dd HH:mm') AS fj, "
        "addDate(toDate('2024-01-01'), INTERVAL 1 MONTH) AS ad, "
        "addDate(toDate('2024-01-01'), 5) AS ad2, "
        "dateAdd(toDate('2024-01-01'), INTERVAL 2 DAY) AS da2, "
        "dateSub(DAY, 3, toDate('2024-01-10')) AS ds, "
        "splitByNonAlpha('ab, cd! 12') AS sn"
    )).first()
    assert str(r["p"]) == "2024-03-05 10:20:30"
    assert str(r["pd"]) == "2024-03-05 10:20:30"  # default format
    assert r["pn"] is None and str(r["pz"]) == "1970-01-01 00:00:00"
    assert str(r["pj"])[:10] == "2024-03-05"
    assert r["fj"] == "2024/03/05 01:02"
    assert str(r["ad"]) == "2024-02-01" and str(r["ad2"]) == "2024-01-06"
    assert str(r["da2"]) == "2024-01-03" and str(r["ds"])[:10] == "2024-01-07"
    assert r["sn"] == ["ab", "cd", "12"]
    with pytest.raises(Exception):
        spark.sql(T(
            "SELECT parseDateTime('garbage', '%Y-%m-%d') AS x"
        )).collect()
    with pytest.raises(ChTranslationError, match="timezone"):
        T("SELECT parseDateTime(s, '%Y', 'UTC') FROM t")


def test_with_fill_interpolate(spark):
    """WITH FILL INTERPOLATE (col): filler rows carry the PREVIOUS
    OUTPUT row's value — including a real row's genuine NULL (the
    struct-wrapped ignoreNulls window must not skip past it to an older
    value); non-interpolated payload stays NULL on fillers; expression
    forms and the fill column itself refuse."""
    spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (5, 50.0, "e")],
        "n int, v double, s string",
    ).createOrReplaceTempView("fill_i")
    got, notes = translate_ch_sql(
        "SELECT n, v, s FROM fill_i ORDER BY n WITH FILL INTERPOLATE (v)"
    )
    rows = spark.sql(got).collect()
    m = {r["n"]: (r["v"], r["s"]) for r in rows}
    assert m[1] == (10.0, "a") and m[2] == (None, "b")
    # n=2's REAL NULL is the carried value — not 10.0 from n=1
    assert m[3] == (None, None) and m[4] == (None, None)
    assert m[5] == (50.0, "e")
    assert [r["n"] for r in rows] == [1, 2, 3, 4, 5]
    assert any("INTERPOLATE" in x for x in notes)
    spark.createDataFrame(
        [(1, 10.0), (4, 40.0)], "n int, v double"
    ).createOrReplaceTempView("fill_i2")
    got, _ = translate_ch_sql(
        "SELECT n, v FROM fill_i2 ORDER BY n WITH FILL INTERPOLATE (v)"
    )
    m = {r["n"]: r["v"] for r in spark.sql(got).collect()}
    assert m == {1: 10.0, 2: 10.0, 3: 10.0, 4: 40.0}
    with pytest.raises(ChTranslationError, match="bare column"):
        translate_ch_sql(
            "SELECT n, v FROM fill_i2 ORDER BY n WITH FILL "
            "INTERPOLATE (v AS v + 1)"
        )
    with pytest.raises(ChTranslationError, match="fill column"):
        translate_ch_sql(
            "SELECT n, v FROM fill_i2 ORDER BY n WITH FILL INTERPOLATE (n)"
        )


def test_time_window_scalars(spark):
    """tumble/hop family: epoch-aligned tumbling bounds, FIRST-covering
    hop window (smallest aligned slide multiple > t - size), 1-arg tuple
    accessors over tumble()'s named_struct, calendar-unit tumble via
    date_trunc; timezone args and hopping calendar steps refuse."""
    spark.createDataFrame(
        [("2024-03-05 10:37:12",), ("2024-03-05 10:45:00",)], "s string"
    ).selectExpr("CAST(s AS TIMESTAMP) AS ts").createOrReplaceTempView("tw")
    got, _ = translate_ch_sql(
        "SELECT tumbleStart(ts, INTERVAL 15 MINUTE) AS ws,"
        "       tumbleEnd(ts, INTERVAL 15 MINUTE) AS we,"
        "       hopStart(ts, INTERVAL 10 MINUTE, INTERVAL 30 MINUTE) AS hs,"
        "       hopEnd(ts, INTERVAL 10 MINUTE, INTERVAL 30 MINUTE) AS he,"
        "       tumbleStart(tumble(ts, INTERVAL 1 DAY)) AS ds,"
        "       tumbleEnd(ts, INTERVAL 1 MONTH) AS me"
        " FROM tw"
    )
    rows = {str(r["ws"]): r for r in spark.sql(got).collect()}
    r1 = rows["2024-03-05 10:30:00"]  # 10:37:12 -> [10:30, 10:45)
    assert str(r1["we"]) == "2024-03-05 10:45:00"
    # hop slide 10m size 30m: starts covering 10:37:12 are {10:10,10:20,10:30}
    assert str(r1["hs"]) == "2024-03-05 10:10:00"
    assert str(r1["he"]) == "2024-03-05 10:40:00"
    assert str(r1["ds"]) == "2024-03-05 00:00:00"
    assert str(r1["me"]) == "2024-04-01 00:00:00"
    # boundary row 10:45:00 starts its own tumble; hop first window is
    # the smallest start STRICTLY after 10:45 - 30m = 10:15 -> 10:20
    r2 = rows["2024-03-05 10:45:00"]
    assert str(r2["we"]) == "2024-03-05 11:00:00"
    assert str(r2["hs"]) == "2024-03-05 10:20:00"
    with pytest.raises(ChTranslationError, match="timezone"):
        translate_ch_sql("SELECT tumble(ts, INTERVAL 1 HOUR, 'UTC') FROM tw")
    with pytest.raises(ChTranslationError, match="SECOND/MINUTE/HOUR/DAY"):
        translate_ch_sql(
            "SELECT hop(ts, INTERVAL 1 MONTH, INTERVAL 2 MONTH) FROM tw"
        )


def test_cli_query_mode_udf_tier(capsys):
    """The Arrow-UDF scalar tier must work in CLI --query mode too (it
    registers the ch_* functions itself — the ch_sql() cache path isn't
    involved)."""
    from clickhouse_sinker_spark.__main__ import main

    main([
        "--query",
        "SELECT base58Decode(base58Encode('ok')) AS rt,"
        " jaroWinklerSimilarity('martha', 'marhta') AS jw",
        "--data-dir", SF_DIR,
        "--query-format", "csv",
        "--master", "local[4]",
    ])
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "rt,jw"
    assert out[1].startswith("ok,0.96111111")


def test_byte_hash_family_gate():
    """sipHash64/xxHash64/xxHash32 translate ONLY with typed evidence
    (literal / catalog string column / string function / explicit
    to[U]IntN wrapper matching the hash width) — CH hashes the binary
    width, so an unknown-typed argument must refuse, never silently hash
    a stringified number.  Spark's builtin xxhash64 seeds with 42 (CH
    seeds 0), so the old plain rename is gone."""
    got, _ = translate_ch_sql(
        "SELECT sipHash64('data') AS h, xxHash64(toString(n)) AS x,"
        " xxHash32(event_type) AS y, sipHash64(toUInt64(n)) AS hu,"
        " xxHash32(toUInt32(n)) AS h32 FROM events",
        string_columns=["event_type"],
    )
    assert "ch_siphash64('data')" in got
    assert "ch_xxhash64_ch(CAST(n AS STRING))" in got
    assert "ch_xxhash32_ch(event_type)" in got
    assert "ch_siphash64_u64(CAST(n AS DECIMAL(20,0)))" in got
    assert "ch_xxhash32_u32(CAST(n AS BIGINT))" in got
    for bad, why in [
        ("SELECT sipHash64(n) FROM t", "unknown type"),
        ("SELECT xxHash64(a, b) FROM t", "multiple arguments"),
        # a 32-bit wrapper under a 64-bit hash hashes 4 bytes in CH —
        # width mismatch must refuse, not silently widen
        ("SELECT sipHash64(toUInt32(n)) FROM t", "unknown type"),
    ]:
        with pytest.raises(ChTranslationError, match=why):
            translate_ch_sql(bad)


def test_rank_corr_ties_and_degenerates(spark):
    """rankCorr = Pearson over tie-AVERAGED ranks; constant variables and
    n < 2 yield NULL (try_divide), never an ANSI error."""
    spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (2.0, 1.0), (3.0, 3.0), (4.0, 9.0),
         (5.0, 9.0)],
        "x double, y double",
    ).createOrReplaceTempView("rc_t")
    got, _ = translate_ch_sql("SELECT rankCorr(x, y) AS r FROM rc_t")
    # hand model: ranks x = [1, 2.5, 2.5, 4, 5, 6], y = [2, 4, 1, 3, 5.5, 5.5]
    assert abs(spark.sql(got).collect()[0]["r"] - 0.7941176470588236) < 1e-12
    spark.createDataFrame(
        [(1.0, 2.0), (1.0, 5.0)], "x double, y double"
    ).createOrReplaceTempView("rc_d")
    got, _ = translate_ch_sql("SELECT rankCorr(x, y) AS r FROM rc_d")
    assert spark.sql(got).collect()[0]["r"] is None
    with pytest.raises(ChTranslationError, match="exactly 2"):
        translate_ch_sql("SELECT rankCorr(x) FROM t")


def test_length_byte_semantics(spark):
    """CH length() counts BYTES on strings (lengthUTF8 counts chars) and
    elements on arrays — the passthrough to Spark's char-counting
    length() silently diverged on multibyte text."""
    spark.createDataFrame([("héllo", ["a", "b"])], "s string, tags array<string>") \
        .createOrReplaceTempView("len_t")
    got, _ = translate_ch_sql(
        "SELECT length(s) AS b, lengthUTF8(s) AS c FROM len_t",
    )
    r = spark.sql(got).collect()[0]
    assert r["b"] == 6 and r["c"] == 5  # é is 2 bytes
    got, _ = translate_ch_sql("SELECT length(groupArray(s)) AS n FROM len_t")
    assert spark.sql(got).collect()[0]["n"] == 1
    got, _ = translate_ch_sql(
        "SELECT length(tags) AS nt FROM len_t", array_columns=["tags"]
    )
    assert spark.sql(got).collect()[0]["nt"] == 2


def test_rand_and_greatest_least_semantics(spark):
    """CH rand() is a UInt32 (rand() % N must stay meaningful — Spark's
    rand() double would make it degenerate); randCanonical() is the
    [0,1) double; rand64 refuses (53 random bits ≠ 64); greatest/least
    propagate NULL from ANY argument (Spark's builtins skip nulls)."""
    got, _ = translate_ch_sql(
        "SELECT rand() % 100 AS r, randCanonical() AS c,"
        " greatest(a, b) AS g, least(a, b) AS l FROM gl_t"
    )
    spark.createDataFrame(
        [(1, None), (3, 2)], "a int, b int"
    ).createOrReplaceTempView("gl_t")
    rows = spark.sql(got).collect()
    by_a = {}
    for r in rows:
        by_a[r["g"]] = r
        assert 0 <= r["r"] < 100 and 0.0 <= r["c"] < 1.0
    assert None in by_a and 3 in by_a  # NULL propagated, 3 = greatest(3,2)
    assert by_a[3]["l"] == 2
    with pytest.raises(ChTranslationError, match="rand64"):
        translate_ch_sql("SELECT rand64() FROM t")


def test_cramers_v_and_contingency_model(spark):
    """χ²-based association vs a hand Counter model, NULL pairs skipped
    (CH aggregate NULL semantics); the bias-corrected variant translates
    since r9 (test_theils_u_and_cramers_bias_corrected)."""
    import math
    from collections import Counter

    rows = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y"), ("b", "y"),
            ("b", "x"), ("c", "x"), (None, "x"), ("c", None)]
    spark.createDataFrame(rows, "s1 string, s2 string") \
        .createOrReplaceTempView("cv_t")
    got, _ = translate_ch_sql(
        "SELECT cramersV(s1, s2) AS v, contingency(s1, s2) AS c FROM cv_t"
    )
    r = spark.sql(got).collect()[0]
    data = [p for p in rows if None not in p]
    n = len(data)
    pc = Counter(data)
    ac = Counter(p[0] for p in data)
    bc = Counter(p[1] for p in data)
    chi2 = n * (sum(o * o / (ac[a] * bc[b]) for (a, b), o in pc.items()) - 1)
    assert abs(r["v"] - math.sqrt(chi2 / (n * (min(len(ac), len(bc)) - 1)))) < 1e-12
    assert abs(r["c"] - math.sqrt(chi2 / (chi2 + n))) < 1e-12
def test_hex_even_width(spark):
    """CH hex() pads integers to whole bytes (hex(1)='01'); strings and
    binaries are unaffected (already even)."""
    got, _ = translate_ch_sql(
        "SELECT hex(1) AS a, hex(255) AS b, hex(256) AS c,"
        " hex(-1) AS d, hex('ab') AS s"
    )
    r = spark.sql(got).collect()[0]
    assert (r["a"], r["b"], r["c"], r["s"]) == ("01", "FF", "0100", "6162")
    assert r["d"] == "FF" * 8


def test_bin_byte_width(spark):
    """CH bin() pads integers to whole bytes (bin(1) = '00000001');
    roundToExp2's internal bit-length arithmetic stays unpadded."""
    got, _ = translate_ch_sql(
        "SELECT bin(1) AS a, bin(255) AS b, bin(256) AS c,"
        " roundToExp2(100) AS r"
    )
    r = spark.sql(got).collect()[0]
    assert r["a"] == "00000001" and r["b"] == "11111111"
    assert r["c"] == "0000000100000000" and r["r"] == 64


def test_unbin(spark):
    """unbin (r9): inverse of bin — CH docs example, the left-pad rule
    (bit counts need not be byte multiples, like unhex's odd-length
    pad), the bin→unbin round trip, and NULL on non-binary digits
    (where CH's result is implementation-defined)."""
    from clickhouse_sinker_spark.functions.chudfs import _unbin, register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT unbin('001100000011000100110010') AS u,"
        " unbin('1') AS pad, unbin(bin(toUInt8(49))) AS rt,"
        " unbin('1x0') AS bad"
    )
    r = spark.sql(got).first()
    assert r["u"] == "012" and r["rt"] == "1" and r["bad"] is None
    assert r["pad"] == "\x01"
    import random
    rng = random.Random(11)
    for _ in range(100):
        b = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 16)))
        assert _unbin("".join(format(x, "08b") for x in b)) == b


def test_ascii_only_case_folding(spark):
    """CH lower()/upper() fold ASCII only; lowerUTF8/upperUTF8 are the
    Unicode forms (Spark's builtins are full-Unicode — a silent delta on
    any non-ASCII text before this rewrite)."""
    got, _ = translate_ch_sql(
        "SELECT lower('ABÉc') AS l, upper('abéC') AS u,"
        " lowerUTF8('ABÉc') AS lu, upperUTF8('abéC') AS uu,"
        " lcase('XÉ') AS lc"
    )
    r = spark.sql(got).collect()[0]
    assert r["l"] == "abÉc" and r["u"] == "ABéC"
    assert r["lu"] == "abéc" and r["uu"] == "ABÉC"
    assert r["lc"] == "xÉ"


def test_char_byte_assembly(spark):
    """CH char(n, ...) concatenates raw BYTES (each arg cast to UInt8) —
    char(228,189,160) is the UTF-8 encoding of 你; Spark's char() is a
    single Unicode codepoint and silently diverges at ≥128."""
    got, _ = translate_ch_sql(
        "SELECT char(100, 97, 116, 97) AS s, char(228, 189, 160) AS u,"
        " char(65) AS a, char(321) AS w"  # 321 % 256 = 65 -> 'A'
    )
    r = spark.sql(got).collect()[0]
    assert r["s"] == "data" and r["u"] == "你"
    assert r["a"] == "A" and r["w"] == "A"


def test_hash_family_typed_gates():
    """r8 hash family rides the same typed-argument gate as the sipHash64
    trio: string evidence or an exact-width integer wrapper; the 128-bit
    output forms are string-only; intHash* are integer-only."""
    got, _ = translate_ch_sql(
        "SELECT cityHash64('d') AS a, cityHash64(toUInt64(n)) AS b,"
        " murmurHash2_32('d') AS c, murmurHash2_64(toString(n)) AS d,"
        " murmurHash3_32(toUInt32(n)) AS e, murmurHash3_64('d') AS f,"
        " murmurHash3_128('d') AS g, sipHash128('d') AS h,"
        " intHash32(n) AS i, intHash64(toUInt64(n)) AS j FROM events"
    )
    assert "ch_cityhash64_ch('d')" in got
    assert "ch_cityhash64_u64(CAST(n AS DECIMAL(20,0)))" in got
    assert "ch_murmur2_32_ch('d')" in got
    assert "ch_murmur2_64_ch(CAST(n AS STRING))" in got
    assert "ch_murmur3_32_u32(CAST(n AS BIGINT))" in got
    assert "ch_murmur3_64_ch('d')" in got
    assert "ch_murmur3_128_ch('d')" in got
    assert "ch_siphash128_ch('d')" in got
    # DECIMAL(20,0) carrier: intHash*(toUInt64(x)) must survive values in
    # [2^63, 2^64) — e.g. re-hashing another hash's output for SAMPLE BY —
    # which an ANSI BIGINT cast would reject (ADVICE r8)
    assert "ch_inthash32(CAST(n AS DECIMAL(20, 0)))" in got
    assert ("ch_inthash64(CAST(CAST(n AS DECIMAL(20,0))"
            " AS DECIMAL(20, 0)))") in got
    for bad in [
        "SELECT cityHash64(n) FROM t",          # unknown type
        "SELECT cityHash64(a, b) FROM t",       # CH multi-arg fold
        "SELECT murmurHash3_128(toUInt64(n)) FROM t",  # string-only form
        "SELECT sipHash128(toUInt64(n)) FROM t",
        "SELECT intHash32('s') FROM t",         # integer-only
        "SELECT murmurHash2_32(toUInt64(n)) FROM t",   # width mismatch
    ]:
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)
    # the official 128-bit SipHash and keyed forms translate since r9
    # (libsodium bit-equality basis in tests/test_chhashes.py)
    got, _ = translate_ch_sql("SELECT sipHash128Reference('x')")
    assert "ch_siphash128_ref('x')" in got
    got, _ = translate_ch_sql("SELECT sipHash64Keyed((1, 2), 'x')")
    assert ("ch_siphash64_keyed(CAST(1 AS DECIMAL(20, 0)),"
            " CAST(2 AS DECIMAL(20, 0)), 'x')") in got
    got, _ = translate_ch_sql(
        "SELECT sipHash64Keyed((1, 2), toUInt64(n)) FROM t")
    assert "ch_siphash64_keyed_u64(" in got
    got, _ = translate_ch_sql("SELECT sipHash128Keyed((3, 4), 'x')")
    assert "ch_siphash128_keyed(" in got
    got, _ = translate_ch_sql("SELECT sipHash128ReferenceKeyed((3, 4), 'x')")
    assert "ch_siphash128_ref_keyed(" in got
    # keyed-form gates: tuple columns (no text-level arity), wrong key
    # arity, multi-argument data folds, and untyped data all refuse
    for refused in [
        "sipHash64Keyed(k, 'x')",
        "sipHash64Keyed((1, 2, 3), 'x')",
        "sipHash64Keyed((1, 2), 'x', 'y')",
        "sipHash128Reference(toUInt64(1))",
        "sipHash128Keyed((1, 2), n)",
    ]:
        with pytest.raises(ChTranslationError):
            translate_ch_sql(f"SELECT {refused} FROM t")


def test_json_tail_semantics(spark):
    """JSONType / JSONExtractArrayRaw / JSONExtractKeysAndValues — the
    r8 JSON introspection tail (driver query ch_dialect_json_extract
    carries the DuckDB-yyjson oracle; this pins the edge semantics)."""
    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        """SELECT JSONType('{"a": [1, 2.5, "x"], "b": true}', 'a', -1) AS neg,
                  JSONType('{"a": 1}') AS root,
                  JSONType('broken') AS bad,
                  JSONType('{"big": 18446744073709551615}', 'big') AS u64,
                  JSONType('{"big": 18446744073709551616}', 'big') AS o64,
                  JSONType('{"big": -9223372036854775809}', 'big') AS n64,
                  JSONExtractArrayRaw('[1, "s", {"k": 1}, null]') AS raw,
                  JSONExtractArrayRaw('{"a": 1}') AS notarr,
                  JSONExtractKeysAndValues(
                    '{"a": 1, "b": true, "c": "7", "d": "no"}', 'Int64') AS kvi
        """
    )
    r = spark.sql(got).collect()[0]
    assert r["neg"] == "String"      # negative index = from the end
    assert r["root"] == "Object" and r["bad"] == "Null"
    assert r["u64"] == "UInt64"      # > Int64 max -> UInt64 like simdjson
    # outside the combined Int64/UInt64 range simdjson falls back to the
    # double parse path (ADVICE r8: these misclassified as UInt64)
    assert r["o64"] == "Double" and r["n64"] == "Double"
    assert list(r["raw"]) == ["1", '"s"', '{"k":1}', "null"]
    assert list(r["notarr"]) == []
    # best-effort conversion: real number and numeric string convert,
    # true and "no" are skipped (CH JSONExtract conversion contract)
    assert [(e["_1"], e["_2"]) for e in r["kvi"]] == [("a", 1), ("c", 7)]
    # 'String'/'Bool' refuse (5 vs "5", true vs "true" indistinguishable;
    # Spark's string->boolean cast also accepts 'no'/'yes')
    for t in ("String", "Bool"):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(
                f"SELECT JSONExtractKeysAndValues('{{}}', '{t}')")
    # non-literal path refuses
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT JSONType(j, k) FROM t")


def test_time_decay_aggregates_hand_model(spark):
    """The r8 time-decay family against a hand-computed model: EMA =
    Σ v·2^((t−t_max)/h) scaled by (1 − 2^(−1/h)); e-decay Sum/Count/
    Avg/Max relative to the last timestamp; deltaSumTimestamp = Σ of
    positive consecutive deltas (driver query ch_dialect_time_decay
    carries the DuckDB window re-derivation oracle)."""
    import math

    got, _ = translate_ch_sql(
        "SELECT exponentialMovingAverage(1)(v, t) AS ema,"
        " exponentialTimeDecayedSum(10)(v, t) AS etds,"
        " exponentialTimeDecayedCount(10)(t) AS etdc,"
        " exponentialTimeDecayedAvg(10)(v, t) AS etda,"
        " exponentialTimeDecayedMax(10)(v, t) AS etdm,"
        " deltaSumTimestamp(v, t) AS dst"
        " FROM VALUES (1.0, 0), (2.0, 1), (5.0, 2), (3.0, 3) AS x(v, t)"
    )
    r = spark.sql(got).collect()[0]
    vs = [(0, 1.0), (1, 2.0), (2, 5.0), (3, 3.0)]
    tm = 3
    ema = sum(v * 2 ** (t - tm) for t, v in vs) * 0.5
    etds = sum(v * math.exp((t - tm) / 10) for t, v in vs)
    etdc = sum(math.exp((t - tm) / 10) for t, v in vs)
    etdm = max(v * math.exp((t - tm) / 10) for t, v in vs)
    assert abs(r["ema"] - ema) < 1e-12
    assert abs(r["etds"] - etds) < 1e-12
    assert abs(r["etdc"] - etdc) < 1e-12
    assert abs(r["etda"] - etds / etdc) < 1e-12
    assert abs(r["etdm"] - etdm) < 1e-12
    assert r["dst"] == 4.0  # (2-1) + (5-2); the 5->3 drop is ignored
    # parametric form is mandatory; NULL rows are skipped
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT exponentialMovingAverage(v, t) FROM t")
    got2, _ = translate_ch_sql(
        "SELECT deltaSumTimestamp(v, t) AS d FROM VALUES"
        " (1.0, 0), (CAST(NULL AS DOUBLE), 1), (5.0, 2) AS x(v, t)"
    )
    assert spark.sql(got2).collect()[0]["d"] == 4.0


def test_non_negative_derivative_window(spark):
    """nonNegativeDerivative is a WINDOW function: per-row rate vs the
    previous row in window order × interval, clamped at 0; first row
    0."""
    got, _ = translate_ch_sql(
        "SELECT t, nonNegativeDerivative(v, t) OVER"
        " (ORDER BY t) AS nnd,"
        " nonNegativeDerivative(v, t, INTERVAL 10 SECOND) OVER"
        " (ORDER BY t) AS nnd10"
        " FROM VALUES (1.0, 0), (3.0, 2), (2.0, 3), (8.0, 7) AS x(v, t)"
        " ORDER BY t"
    )
    rows = spark.sql(got).collect()
    assert [r["nnd"] for r in rows] == [0.0, 1.0, 0.0, 1.5]
    assert [r["nnd10"] for r in rows] == [0.0, 10.0, 0.0, 15.0]
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT nonNegativeDerivative(v, t) FROM t")


def test_mann_whitney_and_mean_z(spark):
    """mannWhitneyUTest against the classic textbook sample (U=17;
    two-sided tie/continuity-corrected normal p — the value scipy's
    asymptotic method publishes for this example) and meanZTest against
    hand-computed moments with the published normal quantile."""
    import math

    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT mannWhitneyUTest(v, i) AS mw,"
        " mannWhitneyUTest('two-sided', 0)(v, i) AS mw0,"
        " meanZTest(1.0, 1.0, 0.95)(v, i) AS mz"
        " FROM VALUES (19.0,0),(22.0,0),(16.0,0),(29.0,0),(24.0,0),"
        "(20.0,1),(11.0,1),(17.0,1),(12.0,1) AS x(v, i)"
    )
    r = spark.sql(got).collect()[0]
    assert r["mw"]["_1"] == 17.0
    assert abs(r["mw"]["_2"] - 0.11134688653314048) < 1e-14
    z0 = 7.0 / math.sqrt(5 * 4 / 12 * 10)   # no continuity correction
    assert abs(r["mw0"]["_2"] - math.erfc(z0 / math.sqrt(2))) < 1e-14
    se = math.sqrt(1 / 5 + 1 / 4)
    zz = 7.0 / se
    assert abs(r["mz"]["_1"] - zz) < 1e-12
    assert abs(r["mz"]["_2"] - math.erfc(zz / math.sqrt(2))) < 1e-12
    assert abs(r["mz"]["_3"] - (7.0 - 1.959963984540054 * se)) < 1e-9
    assert abs(r["mz"]["_4"] - (7.0 + 1.959963984540054 * se)) < 1e-9
    # ties fold into averaged ranks: both samples identical -> U = n1*n2/2
    got2, _ = translate_ch_sql(
        "SELECT mannWhitneyUTest(v, i) AS mw FROM VALUES"
        " (1.0,0),(1.0,0),(1.0,1),(1.0,1) AS x(v, i)"
    )
    r2 = spark.sql(got2).collect()[0]
    assert r2["mw"]["_1"] == 2.0  # R1 = 2*2.5 = 5; U = 5 - 3 = 2 = n1n2/2
    assert r2["mw"]["_2"] is None  # zero variance (all tied) -> NULL p
    # one-sided refuses (sign convention unpinnable locally)
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT mannWhitneyUTest('less')(v, i) FROM t")


def test_kolmogorov_smirnov(spark):
    """kolmogorovSmirnovTest('two-sided','asymp') against analytically
    derivable cases: disjoint samples (D=1, p = 2Σ(−1)^{k−1}e^{−2k²λ²}
    at λ=√1.5 — the published Kolmogorov series), a hand-folded tie
    case (D=0.5), identical samples (D=0, p=1 via the λ<0.02
    full-precision guard), and the typed refusals for 'exact', bare
    'auto' default, and one-sided alternatives."""
    import math

    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT kolmogorovSmirnovTest('two-sided', 'asymp')(v, i) AS ks"
        " FROM VALUES (1.0,0),(2.0,0),(3.0,0),(4.0,1),(5.0,1),(6.0,1)"
        " AS x(v, i)"
    )
    r = spark.sql(got).collect()[0]
    lam = math.sqrt(1.5)
    p = 2 * sum((-1.0) ** (k + 1) * math.exp(-2 * k * k * lam * lam)
                for k in range(1, 1001))
    assert r["ks"]["_1"] == 1.0
    assert abs(r["ks"]["_2"] - p) < 1e-15
    # ties: pooled 1(0) 2(0) 2(0) 2(1) 3(0) 3(1) 3(1) 4(1) — per-tie-
    # group ECDF gaps .25/.5/.25/0 -> D = 0.5
    got2, _ = translate_ch_sql(
        "SELECT kolmogorovSmirnovTest('two-sided', 'asymp')(v, i) AS ks"
        " FROM VALUES (1.0,0),(2.0,0),(2.0,0),(3.0,0),"
        "(2.0,1),(3.0,1),(3.0,1),(4.0,1) AS x(v, i)"
    )
    assert spark.sql(got2).collect()[0]["ks"]["_1"] == 0.5
    # identical samples: D = 0, p exactly 1 (guard, not the series)
    got3, _ = translate_ch_sql(
        "SELECT kolmogorovSmirnovTest('two-sided', 'asymp')(v, i) AS ks"
        " FROM VALUES (1.0,0),(2.0,0),(1.0,1),(2.0,1) AS x(v, i)"
    )
    r3 = spark.sql(got3).collect()[0]
    assert r3["ks"]["_1"] == 0.0 and r3["ks"]["_2"] == 1.0
    # r11: 'exact' translates — hand-countable case: samples {1,2,5} vs
    # {3,4,6}: walk deviations (in units of 1/9) 3,6,3,0,3,0 → D = 6/9;
    # of the C(6,3)=20 interleavings, 12 reach |dev| ≥ 6 → p = 0.6
    got4, _ = translate_ch_sql(
        "SELECT kolmogorovSmirnovTest('two-sided', 'exact')(v, i) AS ks"
        " FROM VALUES (1.0,0),(2.0,0),(5.0,0),(3.0,1),(4.0,1),(6.0,1)"
        " AS x(v, i)"
    )
    r4 = spark.sql(got4).collect()[0]
    assert abs(r4["ks"]["_1"] - 2.0 / 3.0) < 1e-15
    assert abs(r4["ks"]["_2"] - 0.6) < 1e-12
    # disjoint samples, exact: only the 2 fully-separated interleavings
    # of C(6,3)=20 reach D=1... every interleaving reaches h=9? No —
    # h = 9 (D=1) is reached only when one sample fully precedes the
    # other: p = 2/20 = 0.1
    got5, _ = translate_ch_sql(
        "SELECT kolmogorovSmirnovTest('two-sided', 'exact')(v, i) AS ks"
        " FROM VALUES (1.0,0),(2.0,0),(3.0,0),(4.0,1),(5.0,1),(6.0,1)"
        " AS x(v, i)"
    )
    r5 = spark.sql(got5).collect()[0]
    assert r5["ks"]["_1"] == 1.0 and abs(r5["ks"]["_2"] - 0.1) < 1e-12
    # parameterless form = CH defaults ('two-sided', 'auto') → exact at
    # these sizes: same result as got5
    got6, _ = translate_ch_sql(
        "SELECT kolmogorovSmirnovTest(v, i) AS ks"
        " FROM VALUES (1.0,0),(2.0,0),(3.0,0),(4.0,1),(5.0,1),(6.0,1)"
        " AS x(v, i)"
    )
    r6 = spark.sql(got6).collect()[0]
    assert r6["ks"]["_1"] == 1.0 and abs(r6["ks"]["_2"] - 0.1) < 1e-12
    for bad in (
        "SELECT kolmogorovSmirnovTest('greater', 'asymp')(v, i) FROM t",
        "SELECT kolmogorovSmirnovTest('less', 'exact')(v, i) FROM t",
        "SELECT kolmogorovSmirnovTest('two-sided', 'bogus')(v, i) FROM t",
    ):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_norm_quantile_published_values(spark):
    """Bisection-exact Φ⁻¹ against published normal-table constants."""
    from clickhouse_sinker_spark.functions.chudfs import _norm_quantile

    assert abs(_norm_quantile(0.975) - 1.959963984540054) < 1e-12
    assert abs(_norm_quantile(0.995) - 2.5758293035489004) < 1e-12
    assert abs(_norm_quantile(0.5)) < 1e-12
    # bisection brackets differ by sign, so antisymmetry holds to ~1 ulp
    assert abs(_norm_quantile(0.025) + _norm_quantile(0.975)) < 1e-13


def test_first_significant_subdomain(spark):
    """CH docs examples + every algorithm branch over the embedded PSL
    snapshot (exact 2-label rule, *.ck wildcard, !www.ck exception,
    2-label host, dotless host, userinfo/port stripping)."""
    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT firstSignificantSubdomain('https://news.clickhouse.com.tr/') AS a,"
        " firstSignificantSubdomain('www.tr') AS b,"
        " firstSignificantSubdomain('user.github.io') AS c,"
        " firstSignificantSubdomain('a.b.foo.ck') AS d,"
        " firstSignificantSubdomain('x.www.ck') AS e,"
        " firstSignificantSubdomain('tr') AS f,"
        " cutToFirstSignificantSubdomain('https://news.clickhouse.com.tr/p?q=1') AS g,"
        " cutToFirstSignificantSubdomain('www.tr') AS h,"
        " firstSignificantSubdomain('http://u:p@sub.ex.co.uk:8080/x') AS i"
    )
    r = spark.sql(got).collect()[0]
    assert r["a"] == "clickhouse" and r["b"] == "www" and r["c"] == "user"
    assert r["d"] == "b"          # *.ck wildcard: foo.ck is a suffix
    assert r["e"] == "www"        # !www.ck exception cancels the wildcard
    assert r["f"] == ""           # dotless host
    assert r["g"] == "clickhouse.com.tr" and r["h"] == "www.tr"
    assert r["i"] == "ex"         # userinfo + port + path stripped


def test_decimal_scale_arithmetic(spark):
    """divideDecimal/multiplyDecimal TRUNCATE toward zero at the result
    scale (CH contract; every Spark decimal op HALF_UPs);
    toDecimalString rounds half away from zero at a fixed scale.
    Boundary .5 cases pinned (the cases that expose the rounding-mode
    delta)."""
    from decimal import Decimal

    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT divideDecimal(toDecimal64(-12, 0), toDecimal32(2.1, 1), 10) AS d1,"
        " divideDecimal(toDecimal32(7, 0), toDecimal32(2, 0), 0) AS d2,"
        " divideDecimal(toDecimal32(-7, 0), toDecimal32(2, 0), 0) AS d3,"
        " multiplyDecimal(toDecimal32(2.5, 1), toDecimal32(1, 0), 0) AS m1,"
        " multiplyDecimal(toDecimal32(-12.647, 3), toDecimal32(2.1239, 4), 5) AS m2,"
        " toDecimalString(2.1456, 2) AS t1,"
        " toDecimalString(2.5, 0) AS t2,"
        " toDecimalString(-2.5, 0) AS t3,"
        " toDecimalString(64.32, 5) AS t4,"
        " divideDecimal(toDecimal32(1, 0), toDecimal32(0, 0), 2) AS dz"
    )
    r = spark.sql(got).collect()[0]
    assert r["d1"] == Decimal("-5.7142857142")  # truncated (HALF_UP: ...43)
    assert r["d2"] == Decimal("3")              # 3.5 cuts to 3
    assert r["d3"] == Decimal("-3")             # toward zero, not floor
    assert r["m1"] == Decimal("2")              # 2.5 cuts to 2
    assert r["m2"] == Decimal("-26.86096")      # -26.8609633 cut at 5
    assert r["t1"] == "2.15" and r["t4"] == "64.32000"  # CH docs example
    assert r["t2"] == "3" and r["t3"] == "-3"   # half AWAY from zero
    assert r["dz"] is None                      # /0 -> NULL (noted delta)
    # result is a true DECIMAL(38, s), not a string
    assert dict(spark.sql(got).dtypes)["d1"] == "decimal(38,10)"
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT divideDecimal(a, b) FROM t")
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT toDecimalString(x, y) FROM t")


def test_proportions_z_test_hand_model(spark):
    """proportionsZTest pooled/unpooled against hand-computed formulas
    (sx=40, tx=100 vs sy=25, ty=90; conf 0.95)."""
    import math

    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT proportionsZTest(40, 25, 100, 90, 0.95, 'unpooled') AS u,"
        " proportionsZTest(40, 25, 100, 90, 0.95, 'pooled') AS p"
    )
    r = spark.sql(got).collect()[0]
    p1, p2 = 0.40, 25 / 90
    se_u = math.sqrt(p1 * (1 - p1) / 100 + p2 * (1 - p2) / 90)
    pp = 65 / 190
    se_p = math.sqrt(pp * (1 - pp) * (1 / 100 + 1 / 90))
    assert abs(r["u"]["_1"] - (p1 - p2) / se_u) < 1e-12
    assert abs(r["p"]["_1"] - (p1 - p2) / se_p) < 1e-12
    assert abs(r["u"]["_2"]
               - math.erfc(abs((p1 - p2) / se_u) / math.sqrt(2))) < 1e-12
    # CI uses the unpooled Wald se in BOTH variants (documented contract)
    for key in ("u", "p"):
        assert abs(r[key]["_3"]
                   - ((p1 - p2) - 1.959963984540054 * se_u)) < 1e-9
        assert abs(r[key]["_4"]
                   - ((p1 - p2) + 1.959963984540054 * se_u)) < 1e-9
    with pytest.raises(ChTranslationError):
        translate_ch_sql(
            "SELECT proportionsZTest(1, 2, 3, 4, 0.95, 'weighted')")


def test_geohash_and_sum_with_overflow(spark):
    """geohashEncode/Decode (Niemeyer's published scheme; the canonical
    'ezs42' example round-trips to its textbook center) and
    sumWithOverflow (CH keeps the argument type and wraps; exact
    DECIMAL(38) sum reduced mod 2^bits, signed re-centered)."""
    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT geohashEncode(-5.60302734375, 42.60498046875, 5) AS gh,"
        " tupleElement(geohashDecode('ezs42'), 1) AS lon,"
        " tupleElement(geohashDecode('ezs42'), 2) AS lat,"
        " tupleElement(geohashDecode('not!'), 1) AS bad,"
        " sumWithOverflow(toUInt8(v)) AS u8,"
        " sumWithOverflow(toInt8(v)) AS i8,"
        " sumWithOverflow(toUInt64(v)) AS u64"
        " FROM VALUES (200), (100) AS x(v)"
    )
    r = spark.sql(got).collect()[0]
    assert r["gh"] == "ezs42"
    assert abs(r["lon"] + 5.60302734375) < 1e-12
    assert abs(r["lat"] - 42.60498046875) < 1e-12
    assert r["bad"] == 0.0
    assert int(r["u8"]) == 44 and r["i8"] == 44   # 300 wraps mod 256
    assert int(r["u64"]) == 300
    for bad in ("SELECT sumWithOverflow(v) FROM t",
                "SELECT geohashEncode(x) FROM t"):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_geohashes_in_box(spark):
    """geohashesInBox (r10, previously refused): the returned cell SET
    must equal the set of geohashEncode values over a dense sample of
    the box (coverage property against the vector-pinned encoder), the
    grid math is hand-checked (precision 3: 1.40625° cells, box
    [10,12]×[10,11] spans exactly 2×1 cells in lon-outer order), and the
    documented edges hold: inverted box → [], degenerate point on a grid
    corner → [] (max snaps to itself), off-corner point → its 1 cell."""
    from clickhouse_sinker_spark.functions.chudfs import (
        _geohash_encode,
        _geohashes_in_box,
        register_ch_udfs,
    )

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT arrayStringConcat("
        "geohashesInBox(10.0, 10.0, 12.0, 11.0, 3), ',') AS cells,"
        " length(geohashesInBox(1.0, 1.0, 0.0, 0.0, 5)) AS inv,"
        " length(geohashesInBox(0.0, 0.0, 0.0, 0.0, 4)) AS corner,"
        " arrayStringConcat("
        "geohashesInBox(24.48, 57.0, 24.48, 57.0, 4), ',') AS pt"
    )
    r = spark.sql(got).collect()[0]
    # hand math: lon cells start 9.84375 (=7×1.40625) and 11.25;
    # lat cell starts 9.84375 — encode those corners independently
    assert r["cells"] == ",".join([
        _geohash_encode(9.84375, 9.84375, 3),
        _geohash_encode(11.25, 9.84375, 3),
    ])
    assert r["inv"] == 0 and r["corner"] == 0
    assert r["pt"] == _geohash_encode(24.48, 57.0, 4)
    # coverage property at two precisions
    for box, p in (((24.48, 57.0, 24.51, 57.02), 4),
                   ((-5.7, 42.5, -5.5, 42.7), 5)):
        cells = set(_geohashes_in_box(*box, p))
        lon0, lat0, lon1, lat1 = box
        sampled = {
            _geohash_encode(lon0 + (lon1 - lon0) * i / 40,
                            lat0 + (lat1 - lat0) * j / 40, p)
            for i in range(41) for j in range(41)
        }
        assert sampled == cells
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT geohashesInBox(1.0, 2.0, 3.0) FROM t")


def test_empty_array_to_single(spark):
    """emptyArrayToSingle (r10, previously refused) translates for the
    two type-visible shapes — emptyArray<T>() constructors pad with the
    element default (numerics 0, String '', Date epoch) and non-empty
    literals are identity — and refuses arbitrary expressions and the
    untyped [] literal."""
    got, _ = translate_ch_sql(
        "SELECT emptyArrayToSingle(emptyArrayInt32()) AS a,"
        " emptyArrayToSingle(emptyArrayString()) AS s,"
        " emptyArrayToSingle(emptyArrayDate()) AS d,"
        " emptyArrayToSingle([7, 8]) AS ne"
    )
    r = spark.sql(got).collect()[0]
    assert list(r["a"]) == [0] and list(r["s"]) == [""]
    assert str(r["d"][0]) == "1970-01-01" and list(r["ne"]) == [7, 8]
    for bad in ("SELECT emptyArrayToSingle(col) FROM t",
                "SELECT emptyArrayToSingle([]) FROM t"):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_read_wkt_family(spark):
    """readWKTPoint/Ring/Polygon/MultiPolygon (r10, previously refused):
    OGC Simple-Features WKT parsed into the repo's nested tuple arrays
    (boost::geometry conventions CH inherits — a Ring parses from the
    POLYGON spelling).  WKT literals additionally fold into
    pointInPolygon AT TRANSLATE TIME, so geometry strings compose with
    the ray-cast: the CH-docs pip example re-expressed through
    readWKTRing must give the same answer as its array-literal form,
    and a polygon WITH a hole excludes points inside the hole.  The
    render direction (wkt/svg) refuses — float text formatting has no
    local pin."""
    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT tupleElement(readWKTPoint('POINT (1.25 -2.5)'), 1) AS px,"
        " tupleElement(readWKTPoint('POINT(1.25 -2.5)'), 2) AS py,"
        " length(readWKTRing('POLYGON((0 0, 10 0, 10 10, 0 10))')) AS nr,"
        " tupleElement(readWKTRing("
        "'POLYGON((0 0, 10 0, 10 10, 0 10))')[2], 1) AS r2x,"
        " length(readWKTPolygon("
        "'POLYGON((0 0, 10 0, 10 10, 0 10), (4 4, 5 4, 5 5, 4 5))')) AS np,"
        " length(readWKTMultiPolygon('MULTIPOLYGON(((0 0, 1 0, 1 1)),"
        " ((5 5, 6 5, 6 6)))')) AS nm,"
        " pointInPolygon((3., 3.),"
        " readWKTRing('POLYGON((6 0, 8 4, 5 8, 0 2))')) AS pip_wkt,"
        " pointInPolygon((3., 3.),"
        " [(6., 0.), (8., 4.), (5., 8.), (0., 2.)]) AS pip_arr,"
        " pointInPolygon((4.5, 4.5), readWKTPolygon("
        "'POLYGON((0 0, 10 0, 10 10, 0 10), (4 4, 5 4, 5 5, 4 5))'))"
        " AS pip_hole,"
        " pointInPolygon((2., 2.), readWKTPolygon("
        "'POLYGON((0 0, 10 0, 10 10, 0 10), (4 4, 5 4, 5 5, 4 5))'))"
        " AS pip_outer"
    )
    r = spark.sql(got).collect()[0]
    assert r["px"] == 1.25 and r["py"] == -2.5
    assert r["nr"] == 4 and r["r2x"] == 10.0
    assert r["np"] == 2 and r["nm"] == 2
    assert r["pip_wkt"] == 1 and r["pip_arr"] == 1  # CH docs example
    assert r["pip_hole"] == 0   # inside the hole -> out
    assert r["pip_outer"] == 1  # outside the hole -> in
    for bad in ("SELECT wkt((1., 2.)) FROM t",
                "SELECT readWKTPoint('LINESTRING(0 0, 1 1)') FROM t"):
        if "wkt((" in bad:
            with pytest.raises(ChTranslationError):
                translate_ch_sql(bad)
    # malformed WKT literal inside pointInPolygon refuses at translate
    # time (not at run time)
    with pytest.raises(ChTranslationError):
        translate_ch_sql(
            "SELECT pointInPolygon((1., 1.),"
            " readWKTRing('POLYGON((0 0, 10 0')) FROM t")


def test_sum_map_with_overflow(spark):
    """sumMapWithOverflow keeps the ARGUMENT's value width and wraps
    (the sumWithOverflow machinery composed into the sumMap fold):
    signed Int8 200 → −56, unsigned UInt8 reinterprets −2 as 254; the
    width gate refuses when no to[U]IntN spelling is visible."""
    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT arrayStringConcat("
        "sumMapWithOverflow([k], [toInt8(v)]).keys, ',') AS ks,"
        " arrayStringConcat(arrayMap(x -> toString(x),"
        " sumMapWithOverflow([k], [toInt8(v)]).values), ',') AS vs,"
        " arrayStringConcat(arrayMap(x -> toString(x),"
        " sumMapWithOverflow([k], [toUInt8(v)]).values), ',') AS vu"
        " FROM VALUES ('a', 100), ('a', 100), ('b', 1), ('b', -2)"
        " AS t(k, v)"
    )
    r = spark.sql(got).collect()[0]
    assert r["ks"] == "a,b"
    assert r["vs"] == "-56,-1"   # 200 wraps signed int8; 1 + (-2) = -1
    assert r["vu"] == "200,255"  # unsigned: 200; 254 + 1
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT sumMapWithOverflow([k], [v]) FROM t")
    # r11: the filtered+overflow composition — dropped keys never enter
    # the fold, kept keys wrap exactly as the unfiltered form
    got2, _ = translate_ch_sql(
        "SELECT arrayStringConcat("
        "sumMapFilteredWithOverflow(['a'])([k], [toInt8(v)]).keys, ',')"
        " AS ks,"
        " arrayStringConcat(arrayMap(x -> toString(x),"
        " sumMapFilteredWithOverflow(['a'])([k], [toInt8(v)]).values),"
        " ',') AS vs"
        " FROM VALUES ('a', 100), ('a', 100), ('b', 1), ('b', -2)"
        " AS t(k, v)"
    )
    r2 = spark.sql(got2).collect()[0]
    assert r2["ks"] == "a" and r2["vs"] == "-56"
    with pytest.raises(ChTranslationError):
        translate_ch_sql(
            "SELECT sumMapFilteredWithOverflow(['a'])([k], [v]) FROM t")
    with pytest.raises(ChTranslationError):
        translate_ch_sql(
            "SELECT sumMapFilteredWithOverflow([k], [toInt8(v)]) FROM t")


def test_lttb(spark):
    """largestTriangleThreeBuckets(4)(x, y) against a fully hand-worked
    Steinarsson example (10 points, every = 4: bucket 1 candidates idx
    1–4 against the mean of idx 5–8 pick the (2,9) spike — areas 1.5 /
    25.75 / 2 / 3.75; bucket 2 candidates idx 5–8 against (9,3) pick
    (5,2) — areas 15.5 / 12.5 / 11.5 / 6.5), the n≥len passthrough, and
    the literal-bucket-count refusal."""
    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    vals = [0, 1, 9, 1, 1, 2, 2, 8, 2, 3]
    rows = ",".join(f"({i}.0,{v}.0)" for i, v in enumerate(vals))
    got, _ = translate_ch_sql(
        "SELECT largestTriangleThreeBuckets(4)(x, y) AS s,"
        " lttb(99)(x, y) AS allpts"
        f" FROM VALUES {rows} AS t(x, y)"
    )
    r = spark.sql(got).collect()[0]
    assert [(p["_1"], p["_2"]) for p in r["s"]] == [
        (0.0, 0.0), (2.0, 9.0), (5.0, 2.0), (9.0, 3.0)]
    assert len(r["allpts"]) == 10
    assert [p["_1"] for p in r["allpts"]] == sorted(
        p["_1"] for p in r["allpts"])
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT largestTriangleThreeBuckets(n)(x, y) FROM t")


def test_signed_width_bit_ops(spark):
    """ClickHouse returns the ARGUMENT's type from byteSwap/bitRotate: a
    signed toIntN wrapper means a top-bit result is negative
    (byteSwap(toInt16(255)) = −256, bitRotateLeft(toInt8(−1), 1) = −1).
    r8 returned the raw unsigned bit pattern for signed wrappers too
    (ADVICE r8); signed widths now re-center like sumWithOverflow."""
    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT byteSwap(toInt16(255)) AS a,"
        " byteSwap(toUInt16(255)) AS b,"
        " byteSwap(toInt8(-1)) AS c,"
        " bitRotateLeft(toInt8(-1), 1) AS d,"
        " bitRotateRight(toInt16(1), 1) AS e,"
        " bitRotateLeft(toUInt8(255), 4) AS f"
    )
    r = spark.sql(got).collect()[0]
    assert r["a"] == -256
    assert int(r["b"]) == 65280     # unsigned keeps the raw bit pattern
    assert r["c"] == -1
    assert r["d"] == -1
    assert r["e"] == -32768
    assert int(r["f"]) == 255


def test_intHash_full_uint64_domain(spark):
    """intHash32/64 over toUInt64 values in [2^63, 2^64) — the r8 BIGINT
    bottleneck raised an ANSI cast overflow for exactly the re-hash-a-
    hash SAMPLE BY pattern (ADVICE r8); the DECIMAL(20,0) carrier and
    the UDF's own & 2^64−1 widening handle the full domain."""
    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT intHash64(toUInt64(12345678901234567890)) AS h64,"
        " intHash32(toUInt64(18446744073709551615)) AS h32,"
        " intHash64(toInt64(-5)) AS neg"
    )
    r = spark.sql(got).collect()[0]
    from clickhouse_sinker_spark.functions.chudfs import (
        _inthash32, _inthash64)
    M = (1 << 64) - 1
    assert int(r["h64"]) == _inthash64(12345678901234567890)
    assert int(r["h32"]) == _inthash32(18446744073709551615)
    assert int(r["neg"]) == _inthash64((-5) & M)


def test_time_decay_window_form(spark):
    """The genuine CH window spelling — exponentialTimeDecayed*(x)(v, t)
    OVER (w) — is window-only in ClickHouse; r8 emitted a broken
    element_at(...) OVER that failed Spark analysis (ADVICE r8).  Now:
    per-row decay anchored at the CURRENT row's timestamp over the
    user's frame; named windows refuse with a typed error."""
    import math

    got, _ = translate_ch_sql(
        "SELECT t,"
        " exponentialTimeDecayedSum(10)(v, t) OVER"
        " (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        " AS s,"
        " exponentialTimeDecayedCount(10)(t) OVER"
        " (ORDER BY t ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c,"
        " exponentialTimeDecayedAvg(10)(v, t) OVER"
        " (ORDER BY t ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS a,"
        " exponentialTimeDecayedMax(10)(v, t) OVER"
        " (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        " AS m,"
        " exponentialMovingAverage(1)(v, t) OVER"
        " (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        " AS ema"
        " FROM VALUES (10.0, 1), (20.0, 2), (30.0, 3) AS x(v, t)"
        " ORDER BY t"
    )
    rows = spark.sql(got).collect()
    vs = [(1, 10.0), (2, 20.0), (3, 30.0)]
    for i, r in enumerate(rows):
        tc = vs[i][0]
        frame = vs[: i + 1]
        tail = vs[max(0, i - 1) : i + 1]          # 1 PRECEDING frames
        s = sum(v * math.exp((t - tc) / 10) for t, v in frame)
        c = sum(math.exp((t - tc) / 10) for t, _ in tail)
        a = sum(v * math.exp((t - tc) / 10) for t, v in tail) / c
        m = max(v * math.exp((t - tc) / 10) for t, v in frame)
        tm = frame[-1][0]
        ema = (sum(v * 2 ** (t - tm) for t, v in frame)
               * (1 - 2 ** (-1.0)))
        assert abs(r["s"] - s) < 1e-12
        assert abs(r["c"] - c) < 1e-12
        assert abs(r["a"] - a) < 1e-12
        assert abs(r["m"] - m) < 1e-12
        assert abs(r["ema"] - ema) < 1e-12
    with pytest.raises(ChTranslationError):
        translate_ch_sql(
            "SELECT exponentialTimeDecayedSum(10)(v, t) OVER w"
            " FROM t WINDOW w AS (ORDER BY t)")


def test_ngram_distance_family(spark):
    """ngramDistance/ngramSearch (r9): exact 4-gram multiset measures.
    Hand-model pins; deltas from CH documented at _ngram_counts (CH
    folds grams into 2^16 CRC32-C slots, merging collisions — exact
    counting differs only on collision pairs)."""
    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT ngramDistance('ClickHouse', 'ClickHouse') AS same,"
        " ngramDistance('ClickHouse', 'clickhouse') AS cs,"
        " ngramDistanceCaseInsensitive('ClickHouse', 'clickhouse') AS ci,"
        " ngramDistance('abcd', 'xyzw') AS disj,"
        " ngramDistance('', 'abcd') AS onee,"
        " ngramDistance('', '') AS empty,"
        " ngramDistance('aaaaa', 'aaaa') AS mult,"
        " ngramSearch('Hello World Hello', 'World') AS hit,"
        " ngramSearch('abc', 'abcdef') AS tooshort,"
        " ngramSearch('xyzj', 'xyzjxyzj') AS dup,"
        " ngramSearchCaseInsensitive('ABCD', 'abcd') AS sci,"
        " ngramDistanceUTF8('наука данных', 'наука') AS u8,"
        " ngramSearchCaseInsensitiveUTF8('Наука Данных', 'данных') AS u8ci"
    )
    r = spark.sql(got).collect()[0]
    assert r["same"] == 0.0 and r["ci"] == 0.0 and r["disj"] == 1.0
    # 'ClickHouse' vs 'clickhouse': 7 grams each, {lick, ouse} shared
    assert abs(r["cs"] - 10 / 14) < 1e-15
    assert r["onee"] == 1.0        # one empty side -> fully disjoint
    assert r["empty"] == 0.0       # both empty -> 0 via max(denom, 1)
    # multiplicity: aaaaa = {aaaa:2}, aaaa = {aaaa:1} -> |2-1|/(2+1)
    assert abs(r["mult"] - 1 / 3) < 1e-15
    assert r["hit"] == 1.0 and r["tooshort"] == 0.0
    # needle has gram xyzj x2 + 3 bridge grams; haystack has xyzj x1
    assert abs(r["dup"] - (1.0 - 4 / 5)) < 1e-15
    assert r["sci"] == 1.0
    # UTF8 = codepoint units: 'наука' (5 cps) = 2 grams, both in the
    # 12-cp haystack (9 grams): sd = (9-2)+(2-2)=7, denom 11
    assert abs(r["u8"] - 7 / 11) < 1e-15
    assert r["u8ci"] == 1.0
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT ngramDistance('a')")


def test_count_digits_and_bit_slice(spark):
    """countDigits: decimal digits of the underlying integer (Decimal
    counts value·10^scale, leading zeros dropped, 0 → 1).  bitSlice:
    1-based BIT slicing with CH substring conventions, byte-realigned
    and zero-padded, returned as BINARY (CH's String return can carry
    bytes Spark strings cannot)."""
    from clickhouse_sinker_spark.functions.chudfs import (
        _ch_bit_slice, register_ch_udfs)

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT countDigits(125) AS a, countDigits(0) AS b,"
        " countDigits(-9999) AS c,"
        " countDigits(CAST(0.05 AS DECIMAL(10,2))) AS d,"
        " countDigits(CAST(1.50 AS DECIMAL(10,2))) AS e,"
        " bitSlice('Hello', 1, 8) AS h"
    )
    r = spark.sql(got).collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == (3, 1, 4, 1, 3)
    assert bytes(r["h"]) == b"H"
    assert _ch_bit_slice(b"\xff", 2, 4) == b"\xf0"
    assert _ch_bit_slice(b"Hi", 9, None) == b"i"
    assert _ch_bit_slice(b"Hi", -8, None) == b"i"
    assert _ch_bit_slice(b"Hi", 1, -8) == b"H"
    assert _ch_bit_slice(bytes.fromhex("ABCD"), 5, 12) \
        == bytes.fromhex("BCD0")
    assert _ch_bit_slice(b"", 1, 5) == b""


def test_zip_unaligned_and_map_sort(spark):
    """arrayZipUnaligned (r9): NULL-pads the shorter side — exactly
    Spark zip_with's native behavior (arrayZip stays a strict rename).
    mapSort/mapReverseSort (r9): the old refusal was wrong — Spark maps
    DO carry a defined entry order (map_entries exposes, map_from_
    entries preserves); sort_array over entry structs = CH's key sort.
    Comparator-lambda and partial forms still refuse."""
    got, _ = translate_ch_sql(
        "SELECT arrayZipUnaligned([1, 2, 3], ['a']) AS z,"
        " mapKeys(mapSort(map('c', 1, 'a', 3, 'b', 2))) AS k,"
        " mapKeys(mapReverseSort(map('c', 1, 'a', 3, 'b', 2))) AS rk"
    )
    r = spark.sql(got).collect()[0]
    assert [(e["_1"], e["_2"]) for e in r["z"]] \
        == [(1, "a"), (2, None), (3, None)]
    assert list(r["k"]) == ["a", "b", "c"]
    assert list(r["rk"]) == ["c", "b", "a"]
    for bad in ("SELECT mapSort((k, v) -> v, m) FROM t",
                "SELECT mapPartialSort(m) FROM t"):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_to_fixed_string(spark):
    """toFixedString (r9, previously refused): NUL-pad to N BYTES
    (multibyte UTF-8 pads to the byte width), throw when longer — the
    CH contract.  N must be a literal like CH's constant requirement."""
    got, _ = translate_ch_sql(
        "SELECT toFixedString('foo', 8) AS p,"
        " octet_length(toFixedString('foo', 8)) AS l,"
        " toFixedString('日', 5) AS u,"
        " toFixedString(NULL, 4) AS nl"
    )
    r = spark.sql(got).collect()[0]
    assert r["p"] == "foo" + "\x00" * 5 and r["l"] == 8
    assert r["u"] == "日" + "\x00" * 2    # 3 UTF-8 bytes + 2 pad bytes
    assert r["nl"] is None
    got2, _ = translate_ch_sql("SELECT toFixedString('toolong', 3) AS x")
    with pytest.raises(Exception, match="toFixedString"):
        spark.sql(got2).collect()
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT toFixedString(s, n) FROM t")


def test_array_split_and_multiarray_hofs(spark):
    """arraySplit/arrayReverseSplit pinned to the CH docs examples, and
    the r9 multi-array higher-order FIX: CH two-array forms zip
    element-wise — the old passthrough handed Spark a 2-param lambda
    that silently bound the second parameter to the element INDEX."""
    got, _ = translate_ch_sql(
        "SELECT arraySplit((x, y) -> y, [1, 2, 3, 4, 5],"
        " [1, 0, 0, 1, 0]) AS sp,"
        " arrayReverseSplit((x, y) -> y, [1, 2, 3, 4, 5],"
        " [1, 0, 0, 1, 0]) AS rsp,"
        " arraySplit(x -> x % 2 = 0, [1, 2, 3, 4, 5]) AS one,"
        " arraySplit(x -> x > 0, CAST(array() AS ARRAY<INT>)) AS empty,"
        " arrayMap((x, y) -> x + y, [1, 2], [10, 20]) AS m,"
        " arrayFilter((x, y) -> y, ['a', 'b', 'c'], [1, 0, 1]) AS f,"
        " arrayExists((x, y) -> x > y, [1, 5], [2, 2]) AS e,"
        " arrayAll((x, y) -> x > y, [1, 5], [2, 2]) AS al,"
        " arrayCount((x, y) -> x = y, [1, 2, 3], [1, 0, 3]) AS c"
    )
    r = spark.sql(got).collect()[0]
    assert [list(g) for g in r["sp"]] == [[1, 2, 3], [4, 5]]   # CH docs
    assert [list(g) for g in r["rsp"]] == [[1], [2, 3, 4], [5]]
    assert [list(g) for g in r["one"]] == [[1], [2, 3], [4, 5]]
    assert list(r["empty"]) == []
    assert list(r["m"]) == [11, 22]
    assert list(r["f"]) == ["a", "c"]
    assert r["e"] is True and r["al"] is False and r["c"] == 2
    with pytest.raises(ChTranslationError):  # >2 arrays: zip explicitly
        translate_ch_sql("SELECT arrayMap((x,y,z) -> x, a, b, c) FROM t")


def test_array_auc(spark):
    """arrayAUC (r9, previously refused over tie handling): the
    trapezoid-on-tie-groups rule IS pinnable — it equals the
    tie-averaged Mann-Whitney identity.  CH docs example = 0.75; a
    brute-force pair-count model (1 per win, ½ per tie) cross-checks
    random inputs; degenerate single-class → NULL."""
    import random

    from clickhouse_sinker_spark.functions.chudfs import (
        _ch_array_auc, register_ch_udfs)

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) AS a,"
        " arrayAUC([1.0, 1.0, 2.0], [1, 0, 1]) AS tie,"
        " arrayAUC([1.0, 2.0], [1, 1]) AS degen"
    )
    r = spark.sql(got).collect()[0]
    assert r["a"] == 0.75 and r["tie"] == 0.75 and r["degen"] is None
    rng = random.Random(7)
    for _ in range(25):
        n = rng.randint(2, 40)
        s = [rng.choice([0.1, 0.2, 0.3, 0.5, 0.9]) for _ in range(n)]
        lab = [rng.randint(0, 1) for _ in range(n)]
        m = sum(lab)
        if m in (0, n):
            assert _ch_array_auc(s, lab) is None
            continue
        brute = sum(
            (1.0 if s[i] > s[j] else 0.5 if s[i] == s[j] else 0.0)
            for i in range(n) if lab[i] for j in range(n) if not lab[j]
        ) / (m * (n - m))
        assert abs(_ch_array_auc(s, lab) - brute) < 1e-12
    with pytest.raises(ValueError):
        _ch_array_auc([1.0], [1, 0])
    with pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT arrayAUC(s, l, false) FROM t")


def test_gini_auc_identity():
    """Cross-implementation proof: for binary labels with tie-free
    predictions, normalized Gini == 2·AUC − 1 (the published identity).
    arrayAUC is docs-pinned + brute-force-pair-checked independently;
    arrayNormalizedGini agreeing to machine precision over random
    inputs pins the gini fold through a fully independent code path."""
    import random

    from clickhouse_sinker_spark.functions.chudfs import (
        _ch_array_auc, _ch_array_normalized_gini)

    rng = random.Random(42)
    checked = 0
    while checked < 200:
        n = rng.randrange(3, 30)
        p = [x / 1000.0 for x in rng.sample(range(1000), n)]
        lab = [rng.randrange(2) for _ in range(n)]
        if sum(lab) in (0, n):
            continue
        g = _ch_array_normalized_gini(p, lab)
        auc = _ch_array_auc(p, lab)
        assert abs(g[2] - (2 * auc - 1)) < 1e-12
        checked += 1


def test_point_in_polygon(spark):
    """pointInPolygon (r9): even-odd ray casting, pure JVM.  Pinned to
    the CH docs example ((3,3) in the (6,0)(8,4)(5,8)(0,2) quad = 1);
    holes XOR against the outer ring; non-literal rings refuse."""
    got, _ = translate_ch_sql(
        "SELECT pointInPolygon((3., 3.), [(6, 0), (8, 4), (5, 8), (0, 2)])"
        " AS a,"
        " pointInPolygon((10., 10.),"
        " [(6, 0), (8, 4), (5, 8), (0, 2)]) AS b,"
        " pointInPolygon((5., 5.), [(0,0),(10,0),(10,10),(0,10)],"
        " [(4,4),(6,4),(6,6),(4,6)]) AS hole,"
        " pointInPolygon((2., 2.), [(0,0),(10,0),(10,10),(0,10)],"
        " [(4,4),(6,4),(6,6),(4,6)]) AS ring,"
        " pointInPolygon(tuple(-0.5, 1.0), [(0,0),(3,0),(3,2),(0,2)])"
        " AS neg"
    )
    r = spark.sql(got).collect()[0]
    assert (r["a"], r["b"], r["hole"], r["ring"], r["neg"]) \
        == (1, 0, 0, 1, 0)
    for bad in (
        "SELECT pointInPolygon((1., 1.), poly) FROM t",   # non-literal
        "SELECT pointInPolygon((1., 1.), [(0,0),(1,1)])",  # < 3 vertices
        "SELECT pointInPolygon(p, [(0,0),(1,0),(1,1)]) FROM t",
    ):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_idna_family(spark):
    """idnaEncode/tryIdnaEncode/idnaDecode (r9) — UTS#46 ToASCII /
    ToUnicode via the public ``idna`` reference package, pinned to
    PUBLISHED vectors: münchen→xn--mnchen-3ya (case-mapped),
    faß→xn--fa-hia (NONtransitional — the URL-standard mode; the
    transitional result would be 'fass.de'), bücher→xn--bcher-kva.
    Invalid input: idnaEncode raises (CH throws), tryIdnaEncode → '',
    idnaDecode returns the INPUT unchanged (CH docs)."""
    pytest.importorskip("idna")
    from clickhouse_sinker_spark.functions.chudfs import (
        _ch_idna_decode, _ch_idna_encode, register_ch_udfs)

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT idnaEncode('MÜNCHEN.DE') AS a, idnaEncode('faß.de') AS b,"
        " idnaEncode('bücher.example') AS c, idnaEncode('GitHub.COM') AS d,"
        " tryIdnaEncode('bad▲label.com') AS e,"
        " idnaDecode('xn--mnchen-3ya.de') AS f,"
        " idnaDecode('XN--FA-HIA.de') AS g,"
        " idnaDecode('%$ not a domain') AS h,"
        " idnaEncode('') AS i"
    )
    r = spark.sql(got).collect()[0]
    assert r["a"] == "xn--mnchen-3ya.de"
    assert r["b"] == "xn--fa-hia.de"
    assert r["c"] == "xn--bcher-kva.example"
    assert r["d"] == "github.com"
    assert r["e"] == ""
    assert r["f"] == "münchen.de"
    assert r["g"] == "faß.de"          # uts46 case-folds the prefix
    assert r["h"] == "%$ not a domain"  # invalid -> input unchanged
    assert r["i"] == ""
    # strict form raises (CH throws on invalid input)
    with pytest.raises(ValueError):
        _ch_idna_encode("bad▲label.com", True)
    assert _ch_idna_decode("xn--zzzzzz-!!!.de") == "xn--zzzzzz-!!!.de"


def test_theils_u_and_cramers_bias_corrected(spark):
    """theilsU follows CH CrossTab.h's orientation — the NEGATIVE of the
    textbook uncertainty coefficient: the independently recalled formula
    (dep − h_a)/h_a reproduces the CH-docs example value
    −0.30195720557678846 over numbers(150) a=n%10 b=n%4 to 15 digits.
    cramersVBiasCorrected is Bergsma's published correction, checked
    against a from-scratch Python contingency model INCLUDING zero
    cells (the o²/(r·c) identity covers them implicitly)."""
    import math
    from collections import Counter

    spark.range(150).selectExpr("id % 10 AS a", "id % 4 AS b") \
        .createOrReplaceTempView("assoc_t")
    got, _ = translate_ch_sql(
        "SELECT theilsU(a, b) AS u, theilsU(b, a) AS u2,"
        " cramersVBiasCorrected(a, b) AS vb FROM assoc_t")
    r = spark.sql(got).collect()[0]
    assert abs(r["u"] - (-0.30195720557678846)) < 1e-13
    # independent model
    pairs = [(i % 10, i % 4) for i in range(150)]
    n = len(pairs)
    ca, cb, cab = (Counter(p[0] for p in pairs), Counter(p[1] for p in pairs),
                   Counter(pairs))
    h_b = sum((v / n) * math.log(v / n) for v in cb.values())
    dep2 = sum((v / n) * math.log(v / ca[a]) for (a, b), v in cab.items())
    assert abs(r["u2"] - (dep2 - h_b) / h_b) < 1e-13
    chi2 = n * (sum(o * o / (ca[a] * cb[b])
                    for (a, b), o in cab.items()) - 1)
    phi2p = max(0.0, chi2 / n - (len(ca) - 1) * (len(cb) - 1) / (n - 1))
    kac = len(ca) - (len(ca) - 1) ** 2 / (n - 1)
    kbc = len(cb) - (len(cb) - 1) ** 2 / (n - 1)
    assert abs(r["vb"] - math.sqrt(phi2p / (min(kac, kbc) - 1))) < 1e-13
    # degenerate: constant first column -> NULL (h_a = 0)
    got2, _ = translate_ch_sql("SELECT theilsU(1, b) AS u FROM assoc_t")
    assert spark.sql(got2).collect()[0]["u"] is None


def test_anova_and_group_array_sorted(spark):
    """analysisOfVariance (r9): one-way ANOVA as moments + exact
    incomplete-beta p in one Arrow UDF (the mannWhitneyUTest contract).
    The F(1, n) = t(n)² identity cross-checks p against the
    independently t-table-pinned Student CDF.  groupArraySorted(N)(x) =
    the N smallest values ascending, exact."""
    import math

    from clickhouse_sinker_spark.functions.chudfs import (
        _student_p, register_ch_udfs)

    register_ch_udfs(spark)
    spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 0), (2.0, 1), (3.0, 1), (4.0, 1)],
        "v double, g int").createOrReplaceTempView("anova_t")
    got, _ = translate_ch_sql(
        "SELECT analysisOfVariance(v, g) AS a, anova(v, g) AS a2,"
        " groupArraySorted(2)(v) AS s FROM anova_t")
    r = spark.sql(got).collect()[0]
    # hand model: means 2 and 3, grand 2.5 -> SSB = 1.5, SSW = 4,
    # d1 = 1, d2 = 4 -> F = 1.5
    assert abs(r["a"]["_1"] - 1.5) < 1e-12
    assert abs(r["a"]["_2"] - _student_p(math.sqrt(1.5), 4)) < 1e-14
    assert r["a2"] == r["a"]
    assert list(r["s"]) == [1.0, 2.0]
    # degenerate: one group -> NULL fields
    got2, _ = translate_ch_sql(
        "SELECT analysisOfVariance(v, 1) AS a FROM anova_t")
    r2 = spark.sql(got2).collect()[0]
    assert r2["a"]["_1"] is None and r2["a"]["_2"] is None
    for bad in ("SELECT analysisOfVariance(v) FROM t",
                "SELECT groupArraySorted(n)(v) FROM t",
                "SELECT quantileInterpolatedWeighted(0.5)(x, w) FROM t",
                "SELECT * FROM a PASTE JOIN b"):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_min_sample_size(spark):
    """minSampleSizeContinous VERIFIED against the CH docs example
    (616.2931945826209, 108.8825, 115.6175); conversion is the standard
    unpooled two-proportion formula with p₂ = p₁ + mde.  power/alpha
    must be numeric literals (translate-time normal quantiles)."""
    import math
    from statistics import NormalDist

    got, _ = translate_ch_sql(
        "SELECT minSampleSizeContinous(112.25, 21.1, 0.03, 0.80, 0.05)"
        " AS c,"
        " minSampleSizeConversion(0.025, 0.001, 0.90, 0.05) AS cv")
    r = spark.sql(got).collect()[0]
    assert abs(r["c"]["_1"] - 616.2931945826209) < 1e-9
    assert r["c"]["_2"] == 108.8825 and r["c"]["_3"] == 115.6175
    nd = NormalDist()
    zsq = (nd.inv_cdf(0.975) + nd.inv_cdf(0.90)) ** 2
    expect = zsq * (0.025 * 0.975 + 0.026 * 0.974) / 0.001 ** 2
    assert abs(r["cv"]["_1"] - expect) / expect < 1e-12
    assert abs(r["cv"]["_2"] - 0.024) < 1e-15
    assert abs(r["cv"]["_3"] - 0.026) < 1e-15
    # published-constant sanity on the embedded quantile machinery
    assert abs(nd.inv_cdf(0.975) - 1.959963984540054) < 1e-14
    for bad in (
        "SELECT minSampleSizeConversion(0.025, 0.001, p, 0.05) FROM t",
        "SELECT minSampleSizeContinous(1, 2, 0.03, 0.80, 1.5)",
        "SELECT minSampleSizeConversion(0.025, 0.001, 0.90)",
    ):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_subscript_int_cast_gated_on_provable_arrays():
    """The r9 subscript INT cast fires ONLY when the base is provably an
    array (literal/producer call or catalog-known array column) — a
    string-keyed map accessed by a column key must stay untouched."""
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    # array literal base: cast applied (the dialect's toInt casts ride
    # BIGINT carriers and element_at needs INT)
    got, _ = translate_ch_sql("SELECT ['a','b','c'][n + 1] AS x FROM t")
    assert "element_at(array('a','b','c'), CAST(n + 1 AS INT))" in got
    # catalog-known array column: cast applied
    got, _ = translate_ch_sql(
        "SELECT tags[n + 1] AS x FROM t", array_columns=["tags"])
    assert "element_at(tags, CAST(n + 1 AS INT))" in got
    # unknown base with a column key (string-keyed map shape): untouched
    got, _ = translate_ch_sql("SELECT m[k] AS x FROM t")
    assert "element_at(m, k)" in got
    # string-literal key: untouched regardless
    got, _ = translate_ch_sql("SELECT m['k'] AS x FROM t")
    assert "element_at(m, 'k')" in got


def test_tokens_and_ngrams(spark):
    """tokens(s) = CH's default non-alphanumeric-run tokenizer (was a
    silent unresolved-routine passthrough); ngrams(s, n) = codepoint
    n-grams, CH docs example ngrams('ClickHouse', 3) pinned, shorter
    inputs give [] (never a descending Spark sequence)."""
    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )
    import pytest as _pytest

    got, _ = translate_ch_sql(
        "SELECT tokens('a-b c_9!x') AS t, ngrams('ClickHouse', 3) AS g,"
        " ngrams('ab', 3) AS e, ngrams('héllo', 2) AS u")
    row = spark.sql(got).first()
    assert row.t == ["a", "b", "c", "9", "x"]
    assert row.g == ["Cli", "lic", "ick", "ckH", "kHo", "Hou", "ous", "use"]
    assert row.e == []
    assert row.u == ["hé", "él", "ll", "lo"]
    with _pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT tokens(s, 'ngram') FROM t")


def test_late_r9_sweep_batch(spark):
    """The late-r9 passthrough sweep: names that previously reached
    Spark as unresolved routines now translate (loud-but-untranslated →
    translated), with published pins — byteHammingDistance's classic
    'karolin'/'kathrin' = 3, queryStringAndFragment's CH docs
    'page=1#29', bitmapMin's UINT32_MAX empty sentinel, LpNorm([3,4],2)
    = 5 — or refuse with rationale (toTimezone, toDecimal256, 2-arg
    arrayShift, ambiguous hammingDistance)."""
    import pytest as _pytest

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    out, _ = translate_ch_sql(
        "SELECT characterLength('héllo') AS cl,"
        " startsWithUTF8('héllo', 'hé') AS sw,"
        " max2(1, 2.5) AS mx, min2(NULL, 2) AS mn,"
        " notLike('abc', '%b%') AS nl,"
        " toJSONString(mapFromArrays(['a'],[1])) AS js,"
        " JSONArrayLength('[1,2,3]') AS jal,"
        " normalizeLinf([3.0, -6.0]) AS nli, LpNorm([3.0, 4.0], 2) AS lp2,"
        " netloc('http://paul@www.example.com:80/a') AS nlc,"
        " port('http://ex.com:8080/x') AS prt, port('http://ex.com/x') AS p0,"
        " queryStringAndFragment('http://x/?page=1#29') AS qsf,"
        " cutWWW('http://www.example.com/a') AS cw,"
        " pointInEllipses(1.0, 1.0, 0.0, 0.0, 3.0, 3.0) AS pie,"
        " bitmapToArray(bitmapBuild([3, 1, 2, 1])) AS bta,"
        " bitmapXorCardinality(bitmapBuild([1,2]), bitmapBuild([2,3])) AS bxc,"
        " bitmapHasAll(bitmapBuild([1,2,3]), bitmapBuild([1,2])) AS bha,"
        " bitmapMin(bitmapBuild(CAST([] AS ARRAY<BIGINT>))) AS bmn,"
        " extractAllGroupsHorizontal('1-a 2-b', '(\\d)-(\\w)') AS gh,"
        " extractAllGroupsVertical('1-a 2-b', '(\\d)-(\\w)') AS gv,"
        " byteHammingDistance('karolin', 'kathrin') AS hd,"
        " mismatches('abc', 'abcdef') AS mm,"
        " arrayShiftLeft([1,2,3,4], 2, 0) AS asl,"
        " arrayShiftRight([1,2,3,4], 2, 9) AS asr,"
        " tupleElement(tupleIntDiv((10, 20), (3, 7)), 1) AS tid,"
        " tupleElement(tupleModulo((10, 20), (3, 7)), 2) AS tmd,"
        " toDecimal32OrNull('x', 2) AS dnull,"
        " toDecimal64OrZero('1.25', 2) AS dz,"
        " fromUnixTimestampInJodaSyntax(86400, 'yyyy-MM-dd') AS juts"
    )
    r = spark.sql(out).first()
    assert r.cl == 5 and r.sw is True
    assert r.mx == 2.5 and r.mn is None
    assert r.nl is False
    assert r.js == '{"a":1}' and r.jal == 3
    assert r.nli == [0.5, -1.0] and r.lp2 == 5.0
    assert r.nlc == "paul@www.example.com:80"
    assert r.prt == 8080 and r.p0 == 0
    assert r.qsf == "page=1#29"
    assert r.cw == "http://example.com/a"
    assert r.pie == 1
    assert r.bta == [1, 2, 3] and r.bxc == 2 and r.bha is True
    assert r.bmn == 4294967295
    assert r.gh == [["1", "2"], ["a", "b"]]
    assert r.gv == [["1", "a"], ["2", "b"]]
    assert r.hd == 3 and r.mm == 3
    assert r.asl == [3, 4, 0, 0] and r.asr == [9, 9, 1, 2]
    assert r.tid == 3 and r.tmd == 6
    assert r.dnull is None and str(r.dz) == "1.25"
    assert r.juts == "1970-01-02"
    for bad in ("SELECT toTimezone(t, 'UTC') FROM x",
                "SELECT toDecimal256(s, 2) FROM x",
                "SELECT arrayShiftLeft([1], 1) FROM x",
                "SELECT hammingDistance(a, b) FROM x",
                "SELECT sequenceNextNode('forward','head')(t, e, c) FROM x"):
        with _pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_sweep_batch_properties_vs_python_reference(spark):
    """Randomized cross-checks of the late-r9 sweep against pure-Python
    references: byteHammingDistance (mismatch count over the common
    prefix + length delta), the bitmap set algebra vs Python sets, and
    arrayShiftLeft/Right vs list slicing."""
    import random as _random

    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    rng = _random.Random(0x5EEB)

    def ref_hd(x, y):
        a, b = x.encode(), y.encode()
        m = min(len(a), len(b))
        return sum(a[i] != b[i] for i in range(m)) + abs(len(a) - len(b))

    cases = []
    for _ in range(40):
        x = "".join(rng.choice("abcdefg") for _ in range(rng.randrange(8)))
        y = "".join(rng.choice("abcdefg") for _ in range(rng.randrange(8)))
        cases.append((x, y))
    sel = ", ".join(
        f"byteHammingDistance('{x}', '{y}') AS h{i}"
        for i, (x, y) in enumerate(cases))
    got, _ = translate_ch_sql(f"SELECT {sel}")
    row = spark.sql(got).first()
    for i, (x, y) in enumerate(cases):
        assert row[f"h{i}"] == ref_hd(x, y), (x, y)

    sets = []
    for _ in range(15):
        a = [rng.randrange(8) for _ in range(rng.randrange(6))]
        b = [rng.randrange(8) for _ in range(rng.randrange(6))]
        sets.append((a, b))
    sel = ", ".join(
        f"bitmapToArray(bitmapAnd(bitmapBuild({a}), bitmapBuild({b}))) "
        f"AS i{k}, "
        f"bitmapToArray(bitmapXor(bitmapBuild({a}), bitmapBuild({b}))) "
        f"AS x{k}, "
        f"bitmapOrCardinality(bitmapBuild({a}), bitmapBuild({b})) AS o{k}"
        for k, (a, b) in enumerate(sets))
    got, _ = translate_ch_sql(f"SELECT {sel}")
    row = spark.sql(got).first()
    for k, (a, b) in enumerate(sets):
        sa, sb = set(a), set(b)
        assert row[f"i{k}"] == sorted(sa & sb), (a, b)
        assert sorted(row[f"x{k}"]) == sorted(sa ^ sb), (a, b)
        assert row[f"o{k}"] == len(sa | sb), (a, b)

    shifts = []
    for _ in range(15):
        arr = [rng.randrange(100) for _ in range(rng.randrange(7))]
        n = rng.randrange(9)
        shifts.append((arr, n))
    sel = ", ".join(
        f"arrayShiftLeft({arr}, {n}, -1) AS l{k}, "
        f"arrayShiftRight({arr}, {n}, -1) AS r{k}"
        for k, (arr, n) in enumerate(shifts))
    got, _ = translate_ch_sql(f"SELECT {sel}")
    row = spark.sql(got).first()
    for k, (arr, n) in enumerate(shifts):
        m = min(n, len(arr))
        assert row[f"l{k}"] == arr[n:] + [-1] * m, (arr, n)
        assert row[f"r{k}"] == [-1] * m + arr[: max(len(arr) - n, 0)], (
            arr, n)


def test_polygon_cartesian_measures(spark):
    """polygonAreaCartesian (signed shoelace per ring, boost-orientation
    — CH docs [[(0,0),(0,5),(5,5)]] = 12.5 pins the sign; CCW holes
    subtract) and polygonPerimeterCartesian (edge lengths incl. the
    auto-closing edge); non-literal polygons refuse."""
    import math

    import pytest as _pytest

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    got, _ = translate_ch_sql(
        "SELECT polygonAreaCartesian([[(0., 0.), (0., 5.), (5., 5.)]])"
        " AS a,"
        " polygonAreaCartesian([[(0., 0.), (0., 4.), (4., 4.), (4., 0.)],"
        " [(1., 1.), (2., 1.), (2., 2.), (1., 2.)]]) AS ah,"
        " polygonPerimeterCartesian([[(0., 0.), (0., 5.), (5., 5.)]]) AS p")
    r = spark.sql(got).first()
    assert r.a == 12.5          # CH docs example
    assert r.ah == 15.0         # 4x4 square minus a unit hole
    assert abs(r.p - (10 + math.sqrt(50))) < 1e-12
    with _pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT polygonAreaCartesian(poly) FROM t")


def test_parse_time_delta_and_decode_tail(spark):
    """Late-r9 tail: parseTimeDelta (both CH docs examples: '11s+22min'
    = 1331, '1yr2mo' = 36806400 — same 365/30.5 constants as
    formatReadableTimeDelta), decodeHTMLComponent (WHATWG entity table
    via html.unescape), decodeXMLComponent (predefined + numeric refs,
    unknown entities untouched), encodeXMLComponent (5 predefined
    entities, & first), RIPEMD160 (OpenSSL; published 'abc' check
    vector), extractKeyValuePairs default grammar (CH docs example),
    arrayRotateRight, LpDistance and the L*Normalize aliases."""
    import pytest as _pytest

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )
    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT arrayRotateRight([1,2,3,4,5], 2) AS rr,"
        " LpDistance([1., 2.], [4., 6.], 2) AS lpd,"
        " L2Normalize([3., 4.]) AS l2n, LinfNormalize([2., -4.]) AS lin,"
        " parseTimeDelta('11s+22min') AS p1, parseTimeDelta('1yr2mo') AS p2,"
        " decodeHTMLComponent('I&heartsuit;CH &amp; &copy;') AS dh,"
        " decodeXMLComponent('&lt;&#x3A;&quot;&amp;gt&unknown;') AS dx,"
        " encodeXMLComponent('a<b & \"c''d\"') AS ex,"
        " hex(RIPEMD160('abc')) AS rmd,"
        " extractKeyValuePairs("
        "'name:neymar, age:31 team:psg,nationality:brazil') AS kv")
    r = spark.sql(got).first()
    assert r.rr == [4, 5, 1, 2, 3]
    assert r.lpd == 5.0
    assert r.l2n == [0.6, 0.8] and r.lin == [0.5, -1.0]
    assert r.p1 == 1331.0 and r.p2 == 36806400.0
    assert r.dh == "I♥CH & ©"
    assert r.dx == '<:"&gt&unknown;'
    assert r.ex == "a&lt;b &amp; &quot;c&apos;d&quot;"
    assert r.rmd == "8EB208F7E05D987A9B044A8E98C6B087F15A0BFC"
    assert r.kv == {"name": "neymar", "age": "31", "team": "psg",
                    "nationality": "brazil"}
    with _pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT extractKeyValuePairs(s, ':') FROM t")
    with _pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT RIPEMD160(x) FROM t")  # typed gate
    with _pytest.raises(ChTranslationError):
        translate_ch_sql("SELECT MD4(s) FROM t")  # same string-only gate


def test_md4_rfc1320_vectors(spark):
    """MD4 (r10, previously refused as unavailable): OpenSSL's legacy
    provider DOES load on this host, so MD4 rides it like RIPEMD160
    rides libcrypto — pinned to the RFC 1320 appendix test vectors."""
    import pytest as _pytest

    from clickhouse_sinker_spark.functions.chudfs import (
        _md4_bind,
        register_ch_udfs,
    )

    try:
        _md4_bind()
    except RuntimeError as e:  # dependency-gated like libsodium
        _pytest.skip(str(e))
    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT lower(hex(MD4(''))) AS e, lower(hex(MD4('abc'))) AS a,"
        " lower(hex(MD4('message digest'))) AS m")
    r = spark.sql(got).first()
    assert r["e"] == "31d6cfe0d16ae931b73c59d7e0c089c0"
    assert r["a"] == "a448017aaf21d8525fc10ae87aa6729d"
    assert r["m"] == "d9130a8164549fe818874806e1c7014b"


def test_change_date_snowflake_id_and_misc_tail(spark):
    """change<Part> recomposition (Feb-29 → non-leap year saturates to
    Feb 28, day-overflow after changeMonth saturates, micros preserved),
    the NEW epoch-0 snowflake ID pair (exact div/mul by 2^22 on the
    DECIMAL(20,0) carrier, round-trip consistent), divideOrNull,
    isValidUTF8 ≡ 1 on Spark strings, sigmoid, toDate32OrZero's
    1900-01-01 range minimum, N-ary arrayUnion/arraySymmetricDifference,
    and the generic typed JSONExtract dispatch."""
    import pytest as _pytest

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    got, _ = translate_ch_sql(
        "SELECT changeYear(toDateTime('2020-02-29 10:20:30'), 2021) AS cy,"
        " changeMonth(toDateTime('2020-01-31 00:00:01'), 2) AS cm,"
        " changeSecond(toDateTime('2020-01-31 00:00:01'), 59) AS cs,"
        " snowflakeIDToDateTime(toUInt64(6832626392367104000)) AS sid,"
        " dateTimeToSnowflakeID(toDateTime('2021-08-15 18:57:56')) AS dts,"
        " divideOrNull(10, 0) AS dn, divideOrNull(10, 4) AS dv,"
        " isValidUTF8('abc') AS iv, sigmoid(0) AS sg,"
        " toDate32OrZero('bad') AS dz,"
        " arrayUnion([1,2],[2,3],[4]) AS au,"
        " arraySymmetricDifference([1,2],[2,3]) AS asd,"
        " JSONExtract('{\"a\": 7}', 'a', 'Int64') AS je,"
        " JSONExtract('{\"a\": \"x\"}', 'a', 'Nullable(String)') AS jes")
    r = spark.sql(got).first()
    assert (r.cy.month, r.cy.day, r.cy.year) == (2, 28, 2021)
    assert (r.cm.month, r.cm.day) == (2, 29)
    assert r.cs.second == 59
    assert str(r.sid) == "2021-08-15 10:57:56"
    # round trip: the id of 18:57:56 decodes back 8h later than sid's
    assert int(r.dts) == ((1629053876000) << 22)
    assert r.dn is None and r.dv == 2.5
    assert r.iv == 1 and r.sg == 0.5
    assert str(r.dz) == "1900-01-01"
    assert r.au == [1, 2, 3, 4] and r.asd == [1, 3]
    assert r.je == 7 and r.jes == "x"
    for bad in ("SELECT JSONExtract(j, 'a', 'Array(Int64)') FROM t",
                "SELECT shardNum() FROM t",
                "SELECT formatQuery(s) FROM t",
                "SELECT JSONAllPaths(j) FROM t"):
        with _pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_instr_alias_dates_subsequence_tail(spark):
    """Battery-3 closures: CH's instr is an ALIAS of
    positionCaseInsensitive (the bare Spark passthrough was
    case-sensitive — silent divergence, fixed); MJD round trip (Jan 1
    2020 = 58849, the published value) with OrNull guards; wall-time
    UTC converters; exact sub-second add/subtract; hasSubsequence
    family (CH docs 'garbage'/'arg' example); -Array combinator alias
    spellings; quantileDD riding the shared sketch; RESPECT NULLS
    forms."""
    from clickhouse_sinker_spark.functions.chdialect import (
        translate_ch_sql,
    )

    got, _ = translate_ch_sql(
        "SELECT instr('Hello World', 'WORLD') AS ins,"
        " toUTCTimestamp(toDateTime('2024-01-01 12:00:00'),"
        " 'Asia/Shanghai') AS tut,"
        " addMilliseconds(toDateTime('2024-01-01 00:00:00'), 1500) AS ams,"
        " subtractMicroseconds(toDateTime('2024-01-01 00:00:00'), 1)"
        " AS smu,"
        " toModifiedJulianDayOrNull('2020-01-01') AS mjd,"
        " toModifiedJulianDayOrNull('bad') AS mjn,"
        " fromModifiedJulianDayOrNull(58849) AS fmj,"
        " hasSubsequence('garbage', 'arg') AS hs1,"
        " hasSubsequence('garbage', 'arbw') AS hs0,"
        " hasSubsequenceCaseInsensitive('GARBAGE', 'arg') AS hsc,"
        " countSubstringsCaseInsensitiveUTF8('AbaBa', 'ba') AS csc,"
        " multiSearchAllPositionsUTF8('hello', ['l', 'z']) AS msp,"
        " groupArrayArray(arr) AS gaa, groupUniqArrayArray(arr) AS gua,"
        " quantileDD(0.01, 0.5)(v) AS qdd,"
        " anyRespectNulls(v) AS arn"
        " FROM t GROUP BY g")
    spark.createDataFrame(
        [(1, 5, [1, 2])], "g int, v int, arr array<int>"
    ).createOrReplaceTempView("t")
    r = spark.sql(got).first()
    assert r.ins == 7
    assert str(r.tut) == "2024-01-01 04:00:00"
    assert r.ams.microsecond == 500000 and r.ams.second == 1
    assert str(r.smu) == "2023-12-31 23:59:59.999999"
    assert r.mjd == 58849 and r.mjn is None
    assert str(r.fmj) == "2020-01-01"
    assert r.hs1 is True and r.hs0 is False and r.hsc is True
    assert r.csc == 2
    assert r.msp == [3, 0]
    assert r.gaa == [1, 2] and r.gua == [1, 2]
    assert r.qdd == 5 and r.arn == 5


def test_battery4_tail(spark):
    """Battery-4 closures: accurateCast (ANSI CAST throws like CH),
    corr/covar matrix aggregates (n×n static expansion, unit diagonal),
    groupArrayIntersect (collect_list fold), bitPositionsToArray,
    IPv4StringToNum OrNull/OrDefault variants, and URL-safe base64 with
    CH's stripped padding (docs example
    'https://clickhouse.com' ↔ 'aHR0cHM6Ly9jbGlja2hvdXNlLmNvbQ');
    Int128/256 carriers, the H3 family, sqids and the format zoo refuse
    with rationale."""
    import pytest as _pytest

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )
    from clickhouse_sinker_spark.functions.chudfs import register_ch_udfs

    register_ch_udfs(spark)
    got, _ = translate_ch_sql(
        "SELECT accurateCast(300, 'Int64') AS ac,"
        " corrMatrix(a, b) AS cmx,"
        " groupArrayIntersect(arr) AS gai,"
        " bitPositionsToArray(10) AS bpa,"
        " IPv4StringToNumOrNull('1.2.3.4') AS ip1,"
        " IPv4StringToNumOrNull('bad') AS ip0,"
        " IPv4StringToNumOrDefault('bad') AS ipd,"
        " base64URLEncode('https://clickhouse.com') AS b64e,"
        " base64URLDecode('aHR0cHM6Ly9jbGlja2hvdXNlLmNvbQ') AS b64d,"
        " tryBase64URLDecode('@@@') AS b64t"
        " FROM t4 GROUP BY g")
    spark.createDataFrame(
        [(1, 1.0, 2.0, [1, 2, 3]), (1, 2.0, 4.0, [2, 3, 4]),
         (1, 3.0, 5.0, [3, 2])],
        "g int, a double, b double, arr array<int>",
    ).createOrReplaceTempView("t4")
    r = spark.sql(got).first()
    assert r.ac == 300
    assert r.cmx[0][0] == 1.0 and r.cmx[1][1] == 1.0
    assert r.cmx[0][1] == r.cmx[1][0]
    assert sorted(r.gai) == [2, 3]
    assert r.bpa == [1, 3]
    assert r.ip1 == 16909060 and r.ip0 is None and r.ipd == 0
    assert r.b64e == "aHR0cHM6Ly9jbGlja2hvdXNlLmNvbQ"
    assert r.b64d == "https://clickhouse.com"
    assert r.b64t == ""
    for bad in ("SELECT toInt128(s) FROM t", "SELECT h3ToGeo(x) FROM t",
                "SELECT stringToH3(s) FROM t", "SELECT sqidEncode(1) FROM t",
                "SELECT formatRow('CSV', a) FROM t"):
        with _pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_battery5_tail(spark):
    """Battery-5 closures: comparison FUNCTION forms, avgDistinct,
    OrNull array accessors (the try_element_at base already NULLs),
    arrayPartialReverseSort (full-sort instance), toUUIDOrDefault,
    the bitmap subset quartet; the -ArgMin/-ArgMax and -Resample
    combinators refuse with rewrite hints while bare argMin/argMax
    still translate."""
    import pytest as _pytest

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    got, _ = translate_ch_sql(
        "SELECT equals(1, 1) AS eq, notEquals(1, 2) AS ne,"
        " lessOrEquals(1, 1) AS le, avgDistinct(v) AS ad,"
        " arrayElementOrNull([1,2], 5) AS aeo,"
        " arrayFirstOrNull(x -> x > 10, [1,2]) AS afo,"
        " arrayLastOrNull(x -> x > 1, [1,2,3]) AS alo,"
        " arrayPartialReverseSort(2, [1,3,2]) AS prs,"
        " toUUIDOrDefault('bad', 'fallback') AS ud,"
        " bitmapSubsetInRange(bitmapBuild([1,5,9]), 2, 9) AS bsr,"
        " bitmapSubsetLimit(bitmapBuild([9,1,5,7]), 4, 2) AS bsl,"
        " subBitmap(bitmapBuild([9,1,5,7]), 1, 2) AS sb,"
        " bitmapToArray(bitmapTransform(bitmapBuild([1,2,3]), [2], [20]))"
        " AS bt FROM t5 GROUP BY g")
    spark.createDataFrame(
        [(1, 2.0), (1, 2.0), (1, 4.0)], "g int, v double"
    ).createOrReplaceTempView("t5")
    r = spark.sql(got).first()
    assert r.eq is True and r.ne is True and r.le is True
    assert r.ad == 3.0
    assert r.aeo is None and r.afo is None and r.alo == 3
    assert r.prs == [3, 2, 1]
    assert r.ud == "fallback"
    assert r.bsr == [5] and r.bsl == [5, 7] and r.sb == [5, 7]
    assert r.bt == [1, 3, 20]
    got2, _ = translate_ch_sql("SELECT argMin(a, b) FROM t")
    assert "min_by(a, b)" in got2
    for bad in ("SELECT sumArgMin(v, k) FROM t",
                "SELECT sumResample(0, 10, 1)(x, r) FROM t",
                "SELECT emptyArrayToSingle(a) FROM t"):
        with _pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_numbers_colon_casts_distinct_on(spark):
    """Battery-6 clause tail: the numbers()/numbers_mt() table function
    rides Spark's range() with the column renamed (scalar range() still
    translates to sequence arrays); the ::ChType cast operator maps CH
    type names onto Spark's native :: (string literals untouched);
    DISTINCT ON refuses with the LIMIT 1 BY redirect, remote/cluster/
    generateRandom refuse as table functions."""
    import pytest as _pytest

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    out, _ = translate_ch_sql(
        "SELECT number, number::String AS s, '::Int64 raw' AS lit"
        " FROM numbers(3)")
    rows = spark.sql(out).collect()
    assert [r.number for r in rows] == [0, 1, 2]
    assert rows[0].s == "0" and rows[0].lit == "::Int64 raw"
    out2, _ = translate_ch_sql("SELECT sum(number) AS s FROM numbers(3, 4)")
    assert spark.sql(out2).first().s == 18
    out3, _ = translate_ch_sql("SELECT range(3) AS r")
    assert spark.sql(out3).first().r == [0, 1, 2]
    for bad in ("SELECT DISTINCT ON (a) a, b FROM t",
                "SELECT * FROM remote('h', d.t)",
                "SELECT * FROM generateRandom('a Int64')"):
        with _pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_battery7_refusal_tail(spark):
    """Battery-7: external-source table functions, debug/host
    introspection, model-backed evaluation, hierarchical dict getters,
    aggregate-state plumbing and the text-hash LSH families all refuse
    with rationale; minSampleSizeContinuous (the correctly-spelled
    alias of CH's sic Continous name) translates."""
    import pytest as _pytest

    from clickhouse_sinker_spark.functions.chdialect import (
        ChTranslationError,
        translate_ch_sql,
    )

    for bad in ("SELECT * FROM s3('http://x')",
                "SELECT * FROM file('a.csv')",
                "SELECT * FROM mysql('h','d','t','u','p')",
                "SELECT fullHostName() FROM t",
                "SELECT catboostEvaluate('m', a) FROM t",
                "SELECT dictGetHierarchy('d', k) FROM t",
                "SELECT finalizeAggregation(s) FROM t",
                "SELECT ngramSimHashCaseInsensitive(s) FROM t",
                "SELECT wordShingleMinHashUTF8(s) FROM t"):
        with _pytest.raises(ChTranslationError):
            translate_ch_sql(bad)
    got, _ = translate_ch_sql(
        "SELECT minSampleSizeContinuous(100, 10, 0.05, 0.05, 0.2) AS m"
        " FROM t")
    assert "minSampleSizeContinuous" not in got
    # string literals containing the names never trigger the gates
    got2, _ = translate_ch_sql("SELECT 'call file(x) or url(y)' AS s")
    assert "file(x)" in got2


def test_polygon_convex_hull_cartesian(spark):
    """polygonConvexHullCartesian (r11, previously refused): literal
    polygons fold at translate time into the boost graham_andrew output
    convention — clockwise, CLOSED ring, lexicographically-smallest
    start, collinear points dropped; hole-ring points participate in
    the hull (boost's range adaptation walks all rings); composes with
    readWKTPolygon literals; non-literal and degenerate inputs refuse."""
    got, _ = translate_ch_sql(
        "SELECT polygonConvexHullCartesian([[(0., 0.), (4., 0.),"
        " (4., 4.), (0., 4.), (2., 2.), (2., 0.), (1., 1.)]]) AS h")
    r = spark.sql(got).collect()[0]["h"]
    ring = [(p["_1"], p["_2"]) for p in r[0]]
    assert ring == [(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0),
                    (0.0, 0.0)]
    # a hole vertex OUTSIDE the outer ring extends the hull (boost walks
    # every ring of the polygon)
    got2, _ = translate_ch_sql(
        "SELECT polygonConvexHullCartesian([[(0., 0.), (4., 0.),"
        " (4., 4.), (0., 4.)], [(1., 1.), (9., 1.), (1., 2.)]]) AS h")
    r2 = spark.sql(got2).collect()[0]["h"]
    ring2 = [(p["_1"], p["_2"]) for p in r2[0]]
    assert (9.0, 1.0) in ring2 and ring2[0] == ring2[-1] == (0.0, 0.0)
    # WKT literal composes
    got3, _ = translate_ch_sql(
        "SELECT polygonConvexHullCartesian(readWKTPolygon("
        "'POLYGON((0 0, 0 5, 5 5, 5 0))')) AS h")
    r3 = spark.sql(got3).collect()[0]["h"]
    assert [(p["_1"], p["_2"]) for p in r3[0]] == [
        (0.0, 0.0), (0.0, 5.0), (5.0, 5.0), (5.0, 0.0), (0.0, 0.0)]
    # hull output composes with the other polygon folds: area of the
    # hull of the 4×4 square + interior point = 16 (the closed ring's
    # duplicate vertex contributes a zero-length edge to the shoelace)
    got4, _ = translate_ch_sql(
        "SELECT polygonAreaCartesian(polygonConvexHullCartesian("
        "[[(0., 0.), (4., 0.), (4., 4.), (0., 4.), (2., 2.)]])) AS a")
    assert spark.sql(got4).collect()[0]["a"] == 16.0
    for bad in (
        "SELECT polygonConvexHullCartesian(poly_col) FROM t",
        # all collinear → degenerate hull refuses
        "SELECT polygonConvexHullCartesian([[(0., 0.), (1., 1.),"
        " (2., 2.), (3., 3.)]])",
        "SELECT polygonConvexHullCartesian([[(0., 0.), (1., 1.)]])",
    ):
        with pytest.raises(ChTranslationError):
            translate_ch_sql(bad)


def test_wkt_render_refusal_notation_evidence():
    """r12 evidence for keeping the wkt()/svg() RENDER refusal (r11
    VERDICT order #5 asked: translate with a pinned subset, or
    strengthen with a concrete mismatch).  The mismatch: shortest-
    round-trip determines the DIGITS of a Float64, not its NOTATION —
    the same double renders differently across the very shortest-repr
    implementations ClickHouse has shipped, and the divergence sits
    INSIDE the exponent-free coordinate range (integer-valued
    coordinates, the common case in geometry):

      1.0   -> "1.0"  (Python/Spark repr, shortest since CPython 3.1)
            -> "1"    (double-conversion EcmaScriptConverter — CH's
                        pre-23 float writer; ECMAScript drops ".0")
            -> "1E0"  (dragonbox to_chars — vendored by newer CH)

    plus the threshold family: 1e16 is "1e+16" in Python but plain
    decimal under ECMAScript rules (decimal range ends at 1e21).  With
    no live server and no docs vector containing BOTH a fractional and
    an integer-valued coordinate, which notation wkt() emits is
    unpinnable — so the refusal stands and must stay loud."""
    # the three notations denote the SAME double — digits agree,
    # notation doesn't:
    assert float("1") == float("1.0") == float("1E0") == 1.0
    assert repr(1.0) == "1.0"          # Python keeps the ".0"
    assert repr(1e16) == "1e+16"       # Python exits decimal at 1e16
    assert float("10000000000000000") == 1e16  # ECMA stays decimal
    # and the refusal is loud:
    with pytest.raises(ChTranslationError, match="wkt"):
        translate_ch_sql("SELECT wkt((1., 2.)) AS w")


def test_scanner_fast_gate_preserves_semantics():
    """The translator gates every rule on ``_call_names`` — one scan for
    the names called outside string literals.  The gate must find exactly
    the call sites the word-boundary scanner ``_find_call`` finds: a name
    embedded in a LONGER identifier or only inside a string literal is no
    call, and a real call site after such decoys still rewrites."""
    from clickhouse_sinker_spark.functions.chdialect import (
        _call_names,
        _find_call,
        _rewrite_calls,
    )

    # absent name: identity
    s = "SELECT a, b FROM t"
    assert _rewrite_calls(s, "any", lambda a: "FIRST(" + a[0] + ")") == s
    assert _find_call(s, "any") == -1
    assert not _call_names(s)
    # present only as a suffix of a longer identifier: no match
    assert _find_call("SELECT many(x) FROM t", "any") == -1
    assert list(_call_names("SELECT many(x) FROM t")) == ["many"]
    # present only inside a string literal: no match
    assert _find_call("SELECT 'any(' FROM t", "any") == -1
    assert not _call_names("SELECT 'any(' FROM t")
    # decoys first, real call later: found at the right offset
    s2 = "SELECT many(x), 'any(', any(y) FROM t"
    at = _find_call(s2, "any")
    assert s2[at:at + 4] == "any("
    assert list(_call_names(s2)) == ["many", "any"]
    # a str emit renames the call site
    assert _rewrite_calls(s2, "any", "first") == (
        "SELECT many(x), 'any(', first(y) FROM t"
    )
    # the cast operator counts outside literals only
    assert "::" in _call_names("SELECT x::Int64 FROM t")
    assert "::" not in _call_names("SELECT 'x::Int64' FROM t")
    # start-offset anchoring still honors the historical slice semantics
    assert _find_call("xany(1)", "any", 1) == 1


@settings_chd(max_examples=300, deadline=None)
@given_chd(st_chd.lists(st_chd.sampled_from(
    ["any", "many", "any_x", "x", "1", "(", ")", " ", "'", "''", ".", ",",
     "é", "\n", "::"]), max_size=14))
def test_call_names_agree_with_find_call(parts):
    """``_call_names`` holds a name exactly when ``_find_call`` finds a
    call site of it — the membership every rule gate relies on."""
    from clickhouse_sinker_spark.functions.chdialect import (
        _call_names,
        _find_call,
    )

    sql = "".join(parts)
    names = _call_names(sql)
    for n in ("any", "many", "any_x", "x", "1", "é"):
        assert (n in names) == (_find_call(sql, n) >= 0), (sql, n)


def test_refusal_names_first_refused_call_under_any_hash_seed():
    """Two refused calls in one query: the message names the one that
    comes first in the text, whatever the interpreter's hash seed (the
    refused-name table is a set, so iterating it picked a seed-dependent
    one)."""
    import os
    import subprocess
    import sys

    prog = (
        "from clickhouse_sinker_spark.functions.chdialect import ("
        "ChTranslationError, translate_ch_sql)\n"
        "try:\n"
        "    translate_ch_sql('SELECT runningDifference(value),"
        " neighbor(value, 1), rowNumberInBlock() FROM events')\n"
        "except ChTranslationError as e:\n"
        "    print(e)\n"
    )
    msgs = set()
    for seed in ("0", "1", "2", "3", "4"):
        out = subprocess.run(
            [sys.executable, "-c", prog], capture_output=True, text=True,
            check=True, env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout.strip()
        msgs.add(out)
    assert len(msgs) == 1, msgs
    assert msgs.pop().startswith(
        "no faithful Spark translation for runningDifference()")


def test_catalog_context_isolated_between_threads():
    """The catalog arguments of one translate_ch_sql call must not leak
    into, or be reset under, a concurrent call on another thread."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    sql = "SELECT notEmpty(tags) FROM documents"
    want = {
        True: translate_ch_sql(sql, array_columns={"tags"})[0],
        False: translate_ch_sql(sql)[0],
    }
    assert want[True] != want[False]

    def run(typed: bool) -> list[bool]:
        arr = {"tags"} if typed else None
        return [translate_ch_sql(sql, array_columns=arr)[0] == want[typed]
                for _ in range(40)]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(4) as ex:
            results = list(ex.map(run, [True, False] * 4))
    finally:
        sys.setswitchinterval(old)
    assert all(all(r) for r in results)
