"""Quirk-pinning goldens (SURVEY.md §5.3): hand-computed expected values
derived from the JS semantics of etlService.js:118-156 / 259-297."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from imp_etl_spark.functions import cleanse


def _one(spark, col, value, dtype="string"):
    df = spark.createDataFrame([(value,)], f"x {dtype}")
    return df.select(col.alias("y")).collect()[0]["y"]


@pytest.mark.parametrize("value,expected", [
    ("  hello world  ", "HELLO WORLD"),
    ("", ""),                # falsy -> untouched
    (None, None),            # falsy -> untouched
    ("   ", ""),             # whitespace-only is truthy -> trims to ''
    ("MiXeD", "MIXED"),
])
def test_upper_trim(spark, value, expected):
    assert _one(spark, cleanse.upper_trim("x"), value) == expected


@pytest.mark.parametrize("value,expected", [
    ("male", "MALE"), (" FEMALE ", "FEMALE"), ("M", None),
    ("unknown", None), ("", None), (None, None),
])
def test_enum_domain(spark, value, expected):
    col = cleanse.enum_domain("x", ["MALE", "FEMALE"])
    assert _one(spark, col, value) == expected


@pytest.mark.parametrize("value,expected", [
    ("1.5000", 1.5),
    ("0.00", None),        # Q1: parseFloat('0.00') || null -> null
    ("0", None),
    ("12abc", 12.0),       # prefix parse
    ("abc", None),
    ("", None),
    (None, None),
    ("  3.25", 3.25),      # leading whitespace ok
    ("-2.5e1", -25.0),     # exponent
    (".5", 0.5),
])
def test_parse_float_compat(spark, value, expected):
    assert _one(spark, cleanse.parse_float("x", compat=True), value) == expected


# Rows where a slip in the SQL-text rules' literal escaping would show: a
# regex backslash class (\s, \d, \.) lost to string unescaping, or the
# slashes of the 'yyyy/MM/dd' format. Expected values are JS parity
# (module docstring): parseFloat prefix-parses after leading whitespace.
@pytest.mark.parametrize("value,expected", [
    ("  3.75", 3.75),
    ("\t12", 12.0),
    (".5e1", 5.0),
    ("+.5", 0.5),
    ("1e3", 1000.0),
    ("-7.25", -7.25),
    ("1,000", 1.0),        # parseFloat stops at the comma
    ("12abc", 12.0),
])
def test_parse_float_escape_sensitive_rows(spark, value, expected):
    assert _one(spark, cleanse.parse_float("x", compat=True), value) == expected


@pytest.mark.parametrize("value,expected", [
    ("2024-03-05T01:30:00+08:00", "2024-03-04"),   # Q4 UTC shift
    ("2024/03/05", "2024-03-05"),
])
def test_date_norm_utc_escape_sensitive_rows(spark, value, expected):
    assert _one(spark, cleanse.date_norm_utc("x"), value) == expected


def test_sql_literals_round_trip(spark):
    """The SQL-text rules' literals reach the engine verbatim: a string
    with a quote and a backslash, and the parseFloat regexes with their
    backslash classes."""
    texts = ["a'b\\c", cleanse._PARSEFLOAT_RE, cleanse._LEADING_WS_RE]
    row = spark.range(1).select(
        F.expr(cleanse._lit(texts[0])), F.expr(cleanse._raw(texts[1])),
        F.expr(cleanse._raw(texts[2]))
    ).collect()[0]
    assert list(row) == texts


def test_parse_float_clean_keeps_zero(spark):
    assert _one(spark, cleanse.parse_float("x", compat=False), "0.00") == 0.0
    assert _one(spark, cleanse.parse_float("x", compat=False), "12abc") is None


@pytest.mark.parametrize("value,expected", [
    ("1990-05-07", "1990-05-07"),
    # Q4: +08:00 datetime shifts a calendar day back in UTC
    ("1988-01-15T01:00:00+08:00", "1988-01-14"),
    ("2024-03-01T20:00:00+08:00", "2024-03-01"),
    ("not-a-date", None),
    ("", None),
    (None, None),
    ("2000-02-29", "2000-02-29"),
    # ISO-8601 offsets, fractions and separators the format-less parse
    # reads on its own (a negative offset shifts a day forward)
    ("2024-03-05T23:30:00-05:00", "2024-03-06"),
    ("2024-03-05T01:30:00Z", "2024-03-05"),
    ("2024-03-05T01:30:00.1+08:00", "2024-03-04"),
    ("2024-03-05T01:30:00.12+08:00", "2024-03-04"),
    ("2024-03-05T01:30:00.123+08:00", "2024-03-04"),
    ("2024-03-05T01:30:00.1234+08:00", "2024-03-04"),
    ("2024-03-05T01:30:00.12345+08:00", "2024-03-04"),
    ("2024-03-05T01:30:00.123456+08:00", "2024-03-04"),
    ("2024-03-05T01:30:00.123456Z", "2024-03-05"),
    ("2024-03-05T01:30:00+0800", "2024-03-04"),
    ("2024-03-05T01:30:00+08", "2024-03-04"),
    ("2024-03-05 01:30:00+08:00", "2024-03-04"),
    ("2024-03-05T07:59:59.999+08:00", "2024-03-04"),
    ("0001-01-01T00:00:00+00:00", "0001-01-01"),
    # perfbench's generated date vocabulary (perfbench/gen.py _DATE)
    ("2024-03-05", "2024-03-05"),
    ("2024-03-05T01:30:00+08:00", "2024-03-04"),
    ("2024/03/05", "2024-03-05"),
    ("garbage", None),
    ("2023-12-31T23:59:59+08:00", "2023-12-31"),
    ("2024-02-29", "2024-02-29"),
    ("2024-13-45", None),
    ("2025-01-01T00:00:00Z", "2025-01-01"),
])
def test_date_norm_utc(spark, value, expected):
    assert _one(spark, cleanse.date_norm_utc("x"), value) == expected


@pytest.mark.parametrize("value,expected", [
    ("1", "1"), ("0", "0"), ("2", "0"), ("", "0"), (None, "0"),
])
def test_char_flag(spark, value, expected):
    assert _one(spark, cleanse.char_flag("x"), value) == expected


@pytest.mark.parametrize("value,expected", [
    ("0", 1),   # Q3: string '0' is truthy in JS
    ("1", 1), ("", 0), (None, 0), ("false", 1),
])
def test_truthy_int_compat(spark, value, expected):
    assert _one(spark, cleanse.truthy_int("x", compat=True), value) == expected


def test_truthy_int_clean(spark):
    assert _one(spark, cleanse.truthy_int("x", compat=False), "0") == 0


@pytest.mark.parametrize("value,expected", [
    (0, 0),      # MySQL TINYINT 0 is a falsy JS *number* -> 0
    (1, 1), (2, 1), (None, 0),
])
def test_truthy_int_compat_numeric(spark, value, expected):
    col = cleanse.truthy_int("x", compat=True, numeric=True)
    assert _one(spark, col, value, dtype="int") == expected


def test_cleanse_transaction_branches_on_static_dtype(spark):
    """ishold as INT (reference's TINYINT): 0 -> 0; as STRING: '0' -> 1
    (quirk Q3). The pipeline picks the rule from the frame's dtype."""
    from imp_etl_spark.plans.pipeline import cleanse_transaction

    ints = spark.createDataFrame([(0,), (1,), (None,)], "ishold INT")
    got = sorted(r["ishold"] for r in cleanse_transaction(ints).collect())
    assert got == [0, 0, 1]  # 0 -> 0, None -> 0, 1 -> 1

    strs = spark.createDataFrame([("0",), ("",), ("1",)], "ishold STRING")
    got_s = sorted(r["ishold"] for r in cleanse_transaction(strs).collect())
    assert got_s == [0, 1, 1]  # '' -> 0; '0' -> 1 (Q3); '1' -> 1


@pytest.mark.parametrize("value,numeric,expected", [
    (None, False, True), ("", False, True), ("0", False, False),
    ("V1", False, False),
])
def test_falsy_key(spark, value, numeric, expected):
    assert _one(spark, cleanse.falsy_key("x", numeric), value) == expected


def test_quality_rules_split_and_counts(spark):
    """apply_rules: good+bad partition the frame; bad rows name every
    violated rule; violation_counts aggregates the side-output."""
    from imp_etl_spark.operators import quality as dq

    df = spark.createDataFrame(
        [(1, "ok", 5.0), (2, "", 5.0), (3, "ok", 99.0), (4, None, -1.0)],
        "id INT, name STRING, score DOUBLE")
    rules = [dq.non_blank("name"), dq.in_range("score", 0.0, 10.0)]
    good, bad = dq.apply_rules(df, rules)
    assert {r["id"] for r in good.collect()} == {1}
    got = {r["id"]: sorted(r["failed_rules"]) for r in bad.collect()}
    assert got == {2: ["name_non_blank"],
                   3: ["score_in_range"],
                   4: ["name_non_blank", "score_in_range"]}
    counts = {r["rule"]: r["violations"]
              for r in dq.violation_counts(bad).collect()}
    assert counts == {"name_non_blank": 2, "score_in_range": 2}


def test_profile_table_nulls_and_types(spark):
    from imp_etl_spark.operators.quality import profile_table

    rows = [(1, "a", 2.5), (2, None, None), (3, "b", 1.0), (None, "a", 4.0)]
    df = spark.createDataFrame(rows, "k bigint, s string, v double")
    got = {r["column"]: r for r in profile_table(df).collect()}
    assert got["k"]["n_rows"] == 4 and got["k"]["n_nulls"] == 1
    assert got["k"]["n_distinct"] == 3
    assert got["k"]["min_num"] == 1.0 and got["k"]["max_num"] == 3.0
    assert got["k"]["min_str"] is None
    assert got["s"]["n_nulls"] == 1 and got["s"]["n_distinct"] == 2
    assert got["s"]["min_str"] == "a" and got["s"]["max_str"] == "b"
    assert got["s"]["min_num"] is None
    assert got["v"]["min_num"] == 1.0 and got["v"]["max_num"] == 4.0


@pytest.mark.parametrize("ms,expected", [
    (0, "0h 0m 0s"),
    (3_661_000, "1h 1m 1s"),
    (-3_661_000, "-1h -1m -1s"),      # truncation toward zero, all parts
    (None, None),                     # NULL in, NULL out
    # above 2^53: the old float-division path came out one hour LOW on
    # this value (double rounding of the numerator); the decimal path
    # is exact
    # over the full long domain (ADVICE r5)
    (5611633825035178630, "1558787173620h 52m 58s"),
    (9_223_372_036_854_775_807, "2562047788015h 12m 55s"),  # long max
])
def test_duration_hms_exact_long_domain(spark, ms, expected):
    assert _one(spark, cleanse.duration_hms("x"), ms, "bigint") == expected
