"""Schema-defined archives + schema-aware (use_heuristic=false) search.

Covers the three contracts of operators/schema_archive.py:
1. the JVM int/float variable encoders match the Python oracle exactly;
2. compress→decompress under a schema file is byte-exact (identity
   transform, reference test-ParserWithUserSchema / `clp c --schema-path`);
3. schema-aware search is a differential twin of brute-force wildcard
   matching over the original messages (reference GrepCore schema-lexer
   overloads / test-Grep.cpp), including queries the heuristic compiler
   provably gets wrong on schema archives.
"""

import os

import pytest
from pyspark.sql import functions as F

from clp_spark.functions.wildcard import wildcard_match
from clp_spark.operators.custom_schema import load_log_schema
from clp_spark.operators.schema_archive import (
    _nfa_rules,
    assemble_schema_messages,
    compile_schema_query,
    compress_schema_logs,
    float_encodable_col,
    float_pack_col,
    int_encodable_col,
    schema_interpretations,
    schema_typed_encode,
)
from clp_spark.operators.search import QueryToken, search_archive_dir, tokenize_query
from clp_spark.oracle.encoder import encode_float, encode_int
from clp_spark.sources.logfiles import decompress_file

SCHEMA = r"""
// delimiters include space, tab, colon, comma, equals
delimiters: \t\r\n:,=
timestamp:\d{4}\-\d{2}\-\d{2} \d{2}:\d{2}:\d{2}
int:\-{0,1}[0-9]+
float:\-{0,1}[0-9]+\.[0-9]+
hex:[a-fA-F]+
hasNumber:.*\d.*
"""

LINES = [
    "2016-05-08 07:34:05 job_1 started by user admin7 took 12.5 ms code=404",
    "2016-05-08 07:34:06 task deadbeef failed rc=-3 load 0.75",
    "continuation line no header",
    "2016-05-08 07:34:07 plain text only here",
    "2016-05-08 07:34:08 padded 007 value and big 99999999999999999999 int",
    "2016-05-08 07:34:09 job_2 started by user admin7 took 3.5 ms code=200",
    "2016-05-08 07:34:10 disk usage 404 percent weird but fine",
]
# messages after header-rule assembly (line 3 is a continuation of line 2)
MESSAGES = [
    LINES[0],
    LINES[1] + "\n" + LINES[2],
    LINES[3],
    LINES[4],
    LINES[5],
    LINES[6],
]


@pytest.fixture(scope="module")
def archive(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("schema_arch")
    src = root / "a.log"
    src.write_text("\n".join(LINES) + "\n")
    out = str(root / "archive")
    stats = compress_schema_logs(spark, str(src), out, SCHEMA)
    return out, stats


# ------------------------------------------------------------ JVM encoders


ENC_CASES = [
    "3.14", "-0.5", ".5", "5.", "0", "007", "-7", "123", "-0", "+5",
    "1234567890123456.9", "12345678901234567.8", "1234567890123456",
    "99999999999999999999", "9223372036854775807", "9223372036854775808",
    "-9223372036854775808", "1.2.3", "-", ".", "-.", "-.5", "0.0", "10.",
    ".0", "00.5", "1e5", "0x1F", "",
]


def test_int_float_column_encoders_match_oracle(spark):
    df = spark.createDataFrame([(v,) for v in ENC_CASES if v], "v string")
    v = F.col("v")
    rows = df.select(
        "v",
        int_encodable_col(v).alias("iok"),
        F.when(int_encodable_col(v), v.try_cast("bigint")).alias("ienc"),
        float_encodable_col(v).alias("fok"),
        F.when(float_encodable_col(v), float_pack_col(v)).alias("fenc"),
    ).collect()
    for r in rows:
        pi, pf = encode_int(r["v"]), encode_float(r["v"])
        assert (pi is not None) == bool(r["iok"]), r["v"]
        if pi is not None:
            assert pi == r["ienc"], r["v"]
        assert (pf is not None) == bool(r["fok"]), r["v"]
        if pf is not None:
            assert pf == r["fenc"], r["v"]


# ----------------------------------------------------- encode shape + trip


def test_typed_encode_shape(spark):
    sf = load_log_schema(SCHEMA)
    df = spark.createDataFrame([(m,) for m in MESSAGES], "message string")
    all_rows = schema_typed_encode(df, "message", sf, []).collect()
    lt = "\x12 \x12 started by user \x12 took \x13 ms code=\x11"
    # two messages share this logtype (job_1 and job_2) — pick job_1's row
    r = next(
        x for x in all_rows if x["logtype"] == lt and "job_1" in x["dict_vars"]
    )
    rows = {x["logtype"]: x for x in all_rows}
    assert r["placeholders"] == [0x12, 0x12, 0x12, 0x13, 0x11]
    assert r["dict_vars"] == ["2016-05-08 07:34:05", "job_1", "admin7"]
    assert r["encoded_vars"] == [encode_float("12.5"), 404]
    # non-round-tripping ints stay dictionary variables
    padded = rows["\x12 padded \x12 value and big \x12 int"]
    assert padded["dict_vars"][1:] == ["007", "99999999999999999999"]
    assert padded["encoded_vars"] == []


def test_escaped_text_round_trips(spark):
    """Backslashes in constants and variables survive encode→decode (the
    escape_constant invariant)."""
    from clp_spark.operators.decode import decode_df

    sf = load_log_schema(SCHEMA)
    msgs = [
        r"path C:\temp\x mode rw",
        "2016-05-08 07:34:05 literal back\\slash then 42",
    ]
    df = spark.createDataFrame(
        list(enumerate(msgs)), "i long, message string"
    )
    enc = schema_typed_encode(df, "message", sf, ["i"])
    out = sorted(r["message"] for r in decode_df(enc, ["i"]).collect())
    assert out == sorted(msgs)


def test_identity_round_trip(spark, archive):
    out, stats = archive
    assert stats["messages"] == len(MESSAGES)
    got = [
        r["message"] for r in decompress_file(spark, out).collect()
    ]
    assert got == MESSAGES
    # the schema file itself is stored for search auto-detection
    assert os.path.exists(os.path.join(out, "schema.txt"))


def test_assembly_without_headers(spark):
    sf = load_log_schema("delimiters: \nword:[a-z]+\n")
    lines = spark.createDataFrame(
        [("f", 1, "one line"), ("f", 2, "two line")],
        "file_id string, line_no long, line string",
    )
    rows = assemble_schema_messages(lines, sf).orderBy("msg_ix").collect()
    assert [r["message"] for r in rows] == ["one line", "two line"]


# -------------------------------------------------------- interpretations


def _tok(s: str) -> QueryToken:
    units = tokenize_query(s, delimiters=set(" \t\r\n:,="))
    assert len(units) == 1 and units[0][0] == "token"
    return units[0][1]


def test_exact_interpretations():
    rules = _nfa_rules(load_log_schema(SCHEMA))
    # int rule + encodable → encoded-int directive
    assert schema_interpretations(_tok("404"), rules, " :,=")[0] == (
        "sx", 0x11, "404",
    )
    # int rule but no round trip (zero padding) → dictionary directive
    assert schema_interpretations(_tok("007"), rules, " :,=")[0] == (
        "sx", 0x12, "007",
    )
    # float rule → encoded-float directive
    assert schema_interpretations(_tok("12.5"), rules, " :,=")[0] == (
        "sx", 0x13, str(encode_float("12.5")),
    )
    # hex rule (custom name) → dictionary
    assert schema_interpretations(_tok("deadbeef"), rules, " :,=")[0] == (
        "sx", 0x12, "deadbeef",
    )
    # no rule matches → pure logtype text, and can't sit inside the header
    assert schema_interpretations(_tok("started"), rules, " :,=") == ["text"]
    # digit tokens could sit inside the timestamp variable
    assert "in_header" in schema_interpretations(_tok("34"), rules, " :,=")


def test_wildcard_interpretations():
    rules = _nfa_rules(load_log_schema(SCHEMA))
    i = schema_interpretations(_tok("1*"), rules, " :,=")
    assert "wild_int" in i and "wild_dict" in i and "text" in i
    i = schema_interpretations(_tok("1.2*"), rules, " :,=")
    assert "wild_float" in i and "wild_dict" in i
    # letters-only token can't match int/float rules
    i = schema_interpretations(_tok("abc*"), rules, " :,=")
    assert "wild_int" not in i and "wild_float" not in i and "wild_dict" in i
    assert schema_interpretations(_tok("*"), rules, " :,=") == ["star"]
    assert schema_interpretations(_tok("a*b*c"), rules, " :,=") == ["midwild"]


# ------------------------------------------------------- search parity


QUERIES = [
    "*started*", "* 404*", "*404*", "*code=404*", "*admin?*", "*admin7*",
    "*12.5*", "*-3*", "*deadbeef*", "*007*", "*job_*", "*job_1 started*",
    "*99999999999999999999*", "*plain text*", "*0.7?*",
    "*2016-05-08 07:34:06*", "*07:34:0* task*", "*usage 4*", "*cod*04*",
    "*nothing-here*", "* 3.5 *", "*continuation*", "*int", "*use? admin7*",
    "*code=2*", "*rc=-3*", "*took * ms*",
]


@pytest.fixture(scope="module")
def originals(spark):
    return spark.createDataFrame(
        [(m,) for m in MESSAGES], "message string"
    ).cache()


@pytest.mark.parametrize("query", QUERIES)
def test_search_parity(spark, archive, originals, query):
    out, _ = archive
    got = sorted(
        r["message"] for r in search_archive_dir(spark, out, query)[0].collect()
    )
    want = sorted(
        r["message"]
        for r in originals.where(
            wildcard_match(F.col("message"), query, False)
        ).collect()
    )
    assert got == want, query


@pytest.mark.parametrize("query", ["*ADMIN7*", "*DeadBeef*", "*JOB_? Started*"])
def test_search_parity_ignore_case(spark, archive, originals, query):
    out, _ = archive
    got = sorted(
        r["message"]
        for r in search_archive_dir(spark, out, query, ignore_case=True)[0].collect()
    )
    want = sorted(
        r["message"]
        for r in originals.where(
            wildcard_match(F.col("message"), query, True)
        ).collect()
    )
    assert got == want, query


def test_schema_compile_beats_heuristic(spark, tmp_path):
    """Why use_heuristic=false exists: a custom rule can turn a token the
    heuristic would call logtype TEXT into a dictionary VARIABLE. The
    heuristic compiler then probes the logtype dictionary for literal text
    that is actually a placeholder and finds nothing — zero subqueries,
    silent empty result — while the schema compiler asks the rules and
    compiles the exact-dict constraint."""
    from clp_spark.operators.search import compile_query

    schema = (
        "delimiters: \\t\\r\\n\n"
        "verb:started|stopped|failed\n"
        "int:\\-{0,1}[0-9]+\n"
    )
    src = tmp_path / "v.log"
    src.write_text("job one started now\njob two failed now\njob three ok\n")
    out = str(tmp_path / "arch")
    compress_schema_logs(spark, str(src), out, schema)
    lt = spark.read.parquet(f"{out}/logtype_dict")
    vd = spark.read.parquet(f"{out}/var_dict")
    # 'failed' is letters-only, not hex, not after '=' → heuristic says
    # logtype text; but the verb rule stored it as a dict var
    heuristic = compile_query("* failed now*", lt, vd)
    assert heuristic == []
    sf = load_log_schema(schema)
    compiled = compile_schema_query("* failed now*", lt, vd, sf)
    assert compiled != "MATCH_ALL" and len(compiled) >= 1
    got = [
        r["message"]
        for r in search_archive_dir(spark, out, "* failed now*")[0].collect()
    ]
    assert got == ["job two failed now"]


def test_federated_schema_groups_compile_once(spark, tmp_path, monkeypatch):
    """Fleet shape: many archives share ONE schema file. Federated search
    must compile once per DISTINCT schema text (O(distinct schemas), same
    shape as search_json_archives), not once per archive — and stay an
    exact differential twin of per-archive schema-aware search."""
    import clp_spark.operators.schema_archive as sa
    from clp_spark.operators.federation import search_archives

    adir = tmp_path / "archives"
    adir.mkdir()
    schema_b = (
        "delimiters: \\t\\r\\n:,=\n"
        "timestamp:\\d{4}\\-\\d{2}\\-\\d{2} \\d{2}:\\d{2}:\\d{2}\n"
        "verb:started|failed\n"
        "int:\\-{0,1}[0-9]+\n"
    )
    # three archives under SCHEMA (two message-shards), one under schema_b
    for i, lines in enumerate(
        [LINES[:3], LINES[3:5], LINES[5:]]
    ):
        src = tmp_path / f"a{i}.log"
        src.write_text("\n".join(lines) + "\n")
        compress_schema_logs(spark, str(src), str(adir / f"a{i}"), SCHEMA)
    src_b = tmp_path / "b.log"
    src_b.write_text(
        "2016-05-08 07:00:04 job two failed badly took 12.5 ms\n"
    )
    compress_schema_logs(spark, str(src_b), str(adir / "b"), schema_b)

    calls = []
    real = sa.compile_schema_subqueries

    def counted(query, var_dict, sf, ignore_case=False):
        calls.append(query)
        return real(query, var_dict, sf, ignore_case)

    monkeypatch.setattr(sa, "compile_schema_subqueries", counted)

    for q in ["*took 12.5*", "* failed *", "*admin7*"]:
        calls.clear()
        fed = sorted(
            (r["archive_id"], r["message"])
            for r in search_archives(spark, str(adir), q).collect()
        )
        # one compile per distinct schema text, NOT per archive
        assert len(calls) == 2, (q, len(calls))
        per = []
        for aid in ["a0", "a1", "a2", "b"]:
            per += [
                (aid, r["message"])
                for r in search_archive_dir(
                    spark, str(adir / aid), q
                )[0].collect()
            ]
        assert fed == sorted(per), q


def test_federated_mixed_schema_and_plain(spark, tmp_path):
    """An archives directory mixing schema-defined and plain archives: the
    federated search must compile schema archives schema-aware (heuristic
    federation would silently miss schema-variable tokens) and still union
    the plain archives' federated result."""
    from clp_spark.operators.federation import search_archives
    from clp_spark.sources.logfiles import compress_text_logs

    adir = tmp_path / "archives"
    adir.mkdir()
    plain_src = tmp_path / "plain.log"
    plain_src.write_text(
        "2016-05-08 07:00:01 worker went down badly\n"
        "2016-05-08 07:00:02 worker all fine\n"
    )
    compress_text_logs(spark, str(plain_src), str(adir / "plain"))
    schema_src = tmp_path / "sch.log"
    schema_src.write_text(
        "2016-05-08 07:00:03 job one started now\n"
        "2016-05-08 07:00:04 job two failed badly\n"
    )
    schema = (
        "delimiters: \\t\\r\\n:,=\n"
        "timestamp:\\d{4}\\-\\d{2}\\-\\d{2} \\d{2}:\\d{2}:\\d{2}\n"
        "verb:started|failed\n"
        "int:\\-{0,1}[0-9]+\n"
    )
    compress_schema_logs(spark, str(schema_src), str(adir / "sch"), schema)

    # 'failed' is a schema variable in the schema archive; 'badly' is plain
    # text in both — the query must hit one message from EACH archive
    res = search_archives(spark, str(adir), "* badly*")
    msgs = sorted(r["message"] for r in res.collect())
    assert msgs == [
        "2016-05-08 07:00:01 worker went down badly",
        "2016-05-08 07:00:04 job two failed badly",
    ]
    # schema-variable token: only the schema archive can match, and only
    # schema-aware compilation finds it
    res2 = search_archives(spark, str(adir), "* failed badly*")
    assert [r["message"] for r in res2.collect()] == [
        "2016-05-08 07:00:04 job two failed badly"
    ]
    # archive_id + ts_ms columns survive for both kinds
    row = res2.collect()[0]
    assert row["archive_id"] == "sch" and row["ts_ms"] is not None


def test_search_fuzz_differential(spark, archive, originals):
    """Seeded fuzz: queries derived from random substrings of the real
    messages (with injected '*'/'?') must match brute-force wildcard search
    exactly. Substring-derived queries maximize non-trivial hits; the
    injections exercise midwild/star/in-header compilation paths."""
    import random

    out, _ = archive
    rng = random.Random(20260819)
    queries = set()
    while len(queries) < 40:
        m = MESSAGES[rng.randrange(len(MESSAGES))]
        lo = rng.randrange(len(m))
        hi = min(len(m), lo + rng.randrange(3, 18))
        frag = m[lo:hi].replace("\n", " ")
        if not frag.strip():
            continue
        frag = "".join(
            "\\" + c if c in "*?\\" else c for c in frag
        )
        mode = rng.randrange(4)
        if mode == 0 and len(frag) > 4:  # inner star
            k = rng.randrange(1, len(frag) - 1)
            if frag[k - 1] != "\\":
                frag = frag[:k] + "*" + frag[k:]
        elif mode == 1 and len(frag) > 4:  # single-char wildcard
            k = rng.randrange(1, len(frag) - 1)
            if frag[k - 1] != "\\" and frag[k] != "\\":
                frag = frag[:k] + "?" + frag[k + 1:]
        queries.add("*" + frag + "*")
    from pyspark.sql import functions as SF

    failures = []
    for q in sorted(queries):
        got = sorted(
            r["message"]
            for r in search_archive_dir(spark, out, q)[0].collect()
        )
        want = sorted(
            r["message"]
            for r in originals.where(
                wildcard_match(SF.col("message"), q, False)
            ).collect()
        )
        if got != want:
            failures.append((q, got, want))
    assert not failures, failures[:3]
