"""Golden search tests: CLP wildcard query semantics over an encoded archive.

Modeled on the reference's golden query corpus approach
(clp_s/tests/test-clp_s-search.cpp:205-258): exact matched-id sets.
"""

import re

import pytest
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from clp_spark.operators.search import MATCH_ALL, compile_query, search_archive
from clp_spark.oracle import encode_message

CORPUS = [
    "here is a string with a small int 4938 and a very large int 10000000000000000000",
    " 4938 in the middle",
    "no digits at all here",
    "ERROR failed to connect",
    "status was ERRORCODE5 yesterday",
    "xERROR without boundaries",
    "took 0.335 s",
    "took 0.336 s",
    "ratio -25.5196868642755 drift -00.00",
    "user=alice logged in",
    "user=alyce logged in",
    "USER=ALICE LOGGED IN",
    "hex deadBEEF marker",
    "hex deadbeef marker",
    "a literal * star and a literal ? mark",
    "49380 4938.5 not the int",
    "a=4938 assignment",
]


def naive_wildcard_match(msg: str, query: str, ignore_case: bool = False) -> bool:
    """Reference whole-message wildcard semantics (string_utils.hpp:128-154)."""
    rx = []
    escaped = False
    for c in query:
        if escaped:
            rx.append(re.escape(c))
            escaped = False
        elif c == "\\":
            escaped = True
        elif c == "*":
            rx.append(".*")
        elif c == "?":
            rx.append(".")
        else:
            rx.append(re.escape(c))
    flags = re.DOTALL | (re.IGNORECASE if ignore_case else 0)
    return re.fullmatch("".join(rx), msg, flags) is not None


@pytest.fixture(scope="module")
def archive(spark):
    enc = [encode_message(m) for m in CORPUS]
    logtypes = sorted({e.logtype for e in enc})
    lt_id = {lt: i for i, lt in enumerate(logtypes)}
    var_values = sorted({v for e in enc for v in e.dict_vars})

    sinks_schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("source", StringType()),
            StructField("logtype_id", LongType()),
            StructField("logtype", StringType()),
            StructField("placeholders", ArrayType(IntegerType())),
            StructField("encoded_vars", ArrayType(LongType())),
            StructField("dict_vars", ArrayType(StringType())),
        ]
    )
    rows = [
        (
            f"doc-{i:04d}",
            "app-0",
            lt_id[e.logtype],
            e.logtype,
            e.placeholders,
            e.encoded_vars,
            e.dict_vars,
        )
        for i, e in enumerate(enc)
    ]
    sinks = spark.createDataFrame(rows, sinks_schema)
    logtype_dict = spark.createDataFrame(
        [(lt, i) for lt, i in lt_id.items()], ["logtype", "logtype_id"]
    )
    var_dict = spark.createDataFrame(
        [(v, i) for i, v in enumerate(var_values)], ["var_value", "var_id"]
    )
    return sinks, logtype_dict, var_dict


def run(archive, query, ignore_case=False):
    sinks, lt, vd = archive
    out = search_archive(sinks, lt, vd, query, ignore_case)
    return {int(r["doc_id"][4:]) for r in out.collect()}


def naive(query, ignore_case=False):
    return {
        i for i, m in enumerate(CORPUS) if naive_wildcard_match(m, query, ignore_case)
    }


@pytest.mark.parametrize(
    "query,ignore_case",
    [
        ("*ERROR*", False),
        ("*error*", True),
        ("* 4938 *", False),
        ("*4938*", False),
        ("took 0.335 s", False),
        ("*0.335*", False),
        ("*user=al?ce*", False),
        ("*user=*", False),
        ("*deadBEEF*", False),
        ("*deadbeef*", True),
        ("*10000000000000000000*", False),
        ("*zzz_nonexistent_99*", False),
        ("*-00.00*", False),
        ("*literal \\* star*", False),
        ("no digits at all here", False),
        ("*middle", False),
        # regression: escaped '\?' is a literal question mark, not a wildcard
        ("*literal \\? mark*", False),
        # regression: a mid-wildcard token may span tokens / match an int var
        ("*took*335*", False),
        ("*user*al*", False),
    ],
)
def test_query_matches_naive_semantics(archive, query, ignore_case):
    assert run(archive, query, ignore_case) == naive(query, ignore_case)


def _random_queries(n=30, seed=11):
    """Seeded pseudo-random wildcard queries derived from corpus substrings:
    random windows with '*'/'?' injected at random positions — the fuzz
    counterpart to the curated table above."""
    import random

    rng = random.Random(seed)
    out = []
    while len(out) < n:
        msg = rng.choice(CORPUS)
        if len(msg) < 6:
            continue
        a = rng.randrange(0, len(msg) - 4)
        b = min(len(msg), a + rng.randrange(3, 14))
        frag = msg[a:b]
        # escape literal specials so the fragment is literal text
        frag = frag.replace("\\", "\\\\").replace("*", "\\*").replace("?", "\\?")
        style = rng.randrange(5)
        if style == 0:
            q = f"*{frag}*"
        elif style == 1:
            mid = rng.randrange(1, max(2, len(frag)))
            q = f"*{frag[:mid]}*{frag[mid:]}*"
        elif style == 2:
            chars = list(frag)
            for _ in range(rng.randrange(1, 3)):
                i = rng.randrange(len(chars))
                if chars[i] not in "\\*?":
                    chars[i] = "?"
            q = "*" + "".join(chars) + "*"
        elif style == 3:
            q = frag + "*"  # prefix-anchored
        else:
            q = "*" + frag  # suffix-anchored
        out.append(q)
    return out


@pytest.mark.parametrize("query", _random_queries(), ids=range(30))
def test_fuzz_queries_match_naive_semantics(archive, query):
    assert run(archive, query) == naive(query), query


def test_match_all(archive):
    assert run(archive, "*") == set(range(len(CORPUS)))


def test_match_all_compile_shortcircuit(archive):
    _, lt, vd = archive
    assert compile_query("*", lt, vd) == MATCH_ALL


def test_enumeration_cap_degrades_to_superset_not_truncation(archive):
    """A query whose interpretation product exceeds MAX_ENUMERATIONS must
    fall back to the full-scan-plus-verify superset (MATCH_ALL), never
    silently drop subqueries (round-2 review: truncation = false negatives).
    Results must still be exact."""
    _, lt, vd = archive
    # four 4-way-ambiguous wildcard-digit tokens → 4^4 = 256 combos > 128
    q = "*1* *2* *3* *4*"
    assert compile_query(q, lt, vd) == MATCH_ALL
    assert run(archive, q) == naive(q)
    # the cap must trip on the COUNT, before materializing the product —
    # 20 ambiguous tokens (4^20 combos) must return instantly
    q20 = " ".join(f"*{i}*" for i in range(1, 21))
    assert compile_query(q20, lt, vd) == MATCH_ALL


def test_message_column_is_decoded_original(archive):
    sinks, lt, vd = archive
    out = search_archive(sinks, lt, vd, "*ERROR*")
    got = {r["doc_id"]: r["message"] for r in out.collect()}
    for doc_id, msg in got.items():
        assert msg == CORPUS[int(doc_id[4:])]
