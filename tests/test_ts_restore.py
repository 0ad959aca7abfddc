"""Timestamp re-rendering (`clp x` fidelity): detect → parse → strip →
restore must reproduce the original line byte-exactly for every pattern in
canonical spacing (reference TimestampPattern.cpp
insert_formatted_timestamp)."""

import pytest
from pyspark.sql import functions as F

from clp_spark.functions.timestamps import (
    KNOWN_PATTERNS,
    detect_pattern,
    parse_with_pattern,
    restore_timestamp,
    strip_with_pattern,
)

# one canonical line per pattern; expected detect_pattern name
CASES = [
    ("iso_T_dot_ms", "2016-05-08T07:33:05.251 body text"),
    ("iso_T_comma_ms", "2016-05-08T07:33:05,251 body text"),
    ("iso_space_dot_ms", "2016-05-08 07:33:05.251 body text"),
    ("iso_space_comma_ms", "2016-05-08 07:33:05,251 body text"),
    ("slash_T_dot_ms", "2016/05/08T07:33:05.251 body text"),
    ("slash_T_comma_ms", "2016/05/08T07:33:05,251 body text"),
    ("slash_space_dot_ms", "2016/05/08 07:33:05.251 body text"),
    ("slash_space_comma_ms", "2016/05/08 07:33:05,251 body text"),
    ("bracketed_comma_ms", "[2016-05-08 07:33:05,251] body text"),
    ("two_tok_comma_ms", "tok1 tok2 2016-05-08 07:33:05,251 body text"),
    ("angle_colon_ms", "<<<2016-05-08 07:33:05:251 body text"),
    ("day_monname_comma_ms", "08 May 2016 07:33:05,251 body text"),
    ("iso_T_sec", "2016-05-08T07:33:05 body text"),
    ("iso_space_sec", "2016-05-08 07:33:05 body text"),
    ("slash_T_sec", "2016/05/08T07:33:05 body text"),
    ("slash_space_sec", "2016/05/08 07:33:05 body text"),
    ("bracket_iso_T_sec", "[2016-05-08T07:33:05] body text"),
    ("bracket_compact", "[20160508-07:33:05] body text"),
    ("start_date", "START 2016-05-08  07:33:05 body text"),
    ("two_digit_year", "16/05/08 07:33:05 body text"),
    ("compact_2dy", "160508 7:33:05 body text"),
    ("monname_ampm", "May 08, 2016 7:33:05 AM body text"),
    ("full_month_hm", "May 08, 2016 07:33 body text"),
    ("apache_1tok", "127.0.0.1 [08/May/2016:07:33:05 +0000] GET /"),
    ("apache_3tok", "127.0.0.1 - frank [08/May/2016:07:33:05 +0000] GET /"),
    ("apache_3tok_numeric", "127.0.0.1 - frank [08/05/2016:07:33:05 +0000] GET /"),
    ("rails_6tok", "a b c d e f 2016-05-08 07:33:05 body text"),
    ("one_tok_iso", "tok 2016-05-08 07:33:05 body text"),
    ("apport_4tok", "ERROR: apport (pid 123) Mon May 9 07:33:05 2016 body"),
    ("weekday", "Mon May 9 07:33:05 2016 body text"),
    ("syslog_noyear", "May 9 07:33:05 host daemon: body"),
    ("monthday_ms_noyear", "05-09 07:33:05.251 body text"),
    ("epoch_ms", "1462692785251 body text"),
]


def test_all_patterns_covered():
    assert {n for n, _ in CASES} == {p.name for p in KNOWN_PATTERNS}


def test_detect_strip_restore_roundtrip(spark):
    df = spark.createDataFrame(CASES, "expected string, line string")
    det = detect_pattern(F.col("line"))
    out = (
        df.withColumn("pat", det)
        .withColumn("ts_ms", parse_with_pattern(F.col("line"), F.col("pat")))
        .withColumn("body", strip_with_pattern(F.col("line"), F.col("pat")))
        .withColumn(
            "restored",
            restore_timestamp(F.col("body"), F.col("ts_ms"), F.col("pat")),
        )
        .collect()
    )
    for r in out:
        assert r["pat"] == r["expected"], (r["expected"], r["pat"], r["line"])
        assert r["ts_ms"] is not None, r["line"]
        assert r["body"] != r["line"], r["line"]
        assert r["restored"] == r["line"], (r["expected"], r["restored"])


def test_restore_passthrough_on_null(spark):
    df = spark.createDataFrame(
        [("no timestamp here", None, None)],
        "body string, ts_ms long, pat string",
    )
    got = df.select(
        restore_timestamp(F.col("body"), F.col("ts_ms"), F.col("pat")).alias("m")
    ).collect()
    assert got[0]["m"] == "no timestamp here"


def test_restore_with_recorded_patterns_matches_full_chain(spark):
    """An archive's recorded patterns restore exactly what the full chain
    does: the row's own pattern alone or next to another gives the
    full-chain line byte for byte, and no pattern passes every row
    through unchanged."""
    names = [n for n, _ in CASES]
    body = strip_with_pattern(F.col("line"), F.col("pat"))
    base = spark.createDataFrame(CASES, "pat string, line string").select(
        "pat",
        body.alias("body"),
        parse_with_pattern(F.col("line"), F.col("pat")).alias("ts_ms"),
    )
    args = (F.col("body"), F.col("ts_ms"), F.col("pat"))
    cols = [restore_timestamp(*args).alias("full"),
            restore_timestamp(*args, []).alias("none")]
    for i, n in enumerate(names):
        other = names[(i + 1) % len(names)]
        cols.append(restore_timestamp(*args, [n]).alias(f"one_{i}"))
        cols.append(restore_timestamp(*args, [other, n]).alias(f"two_{i}"))
    rows = base.select("pat", "body", *cols).collect()
    assert len(rows) == len(CASES)
    for r in rows:
        i = names.index(r["pat"])
        assert r["one_" + str(i)] == r["full"], (r["pat"], r["one_" + str(i)])
        assert r["two_" + str(i)] == r["full"], (r["pat"], r["two_" + str(i)])
        assert r["none"] == r["body"], r["pat"]
