"""Parity tests: the production mapInArrow encoders vs the pure-Python oracle.

Both encoders run here exactly as Spark runs them, as functions over an
iterator of Arrow RecordBatches, with no Spark session: ``make_encode_arrow``
over a string column and ``make_detok_encode_arrow`` over a token-id list
column. Spark hands mapInArrow batches whose arrays can start at a non-zero
offset, so every case also runs on a batch sliced past a few leading rows.
"""

import re
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from clp_spark.functions.arrow_kernel import make_detok_encode_arrow, make_encode_arrow
from clp_spark.oracle import decode_message, encode_message

PAD = "pad 1 x=2 \\\x11 ff"  # leading rows that a sliced batch skips

FIXTURE_MESSAGES = [
    "",
    "plain constant text only",
    "here is a string with a small int 4938 and a very large int 10000000000000000000"
    " and a double -25.5196868642755 and a weird double -00.00 and a str with numbers"
    " python2.7.3 and a str with a backslash and numbers \\a1"
    " and an escape \\ and an int placeholder \x11 and a float placeholder \x13"
    " and a dictionary placeholder \x12",
    "~=x!abc123;1.2%x:+394/-",
    " ad ff 95 24 0d ff ",
    " text \x11 var123 ",
    "2016-05-08 07:34:05,251 INFO Task task_12 took 0.335 s user=alice retries=3",
    "int bounds 9223372036854775807 -9223372036854775808 9223372036854775808"
    " -9223372036854775809 92233720368547758070",
    "floats .1 1. . -00.00 -999999999999999.9 .9999999999999999 12345678901234567.8",
    "zero-pad 007 -0 0 00.1 +1 +1.0",
    "a=-  b=c d=4 =e =9 f= /slash/path_7/x",
    "up-time=3d mixed-0.5-x",
]


def _sliced_batch(column: pa.Array, name: str, skip: int) -> pa.RecordBatch:
    """Batch of ``column`` plus a doc_id passthrough, sliced past ``skip`` rows
    (doc_id then reads 0..n-1 for the rows kept)."""
    ids = pa.array(range(-skip, len(column) - skip), pa.int64())
    return pa.RecordBatch.from_arrays([ids, column], ["doc_id", name]).slice(skip)


def encode_text(messages, skip=0):
    batch = _sliced_batch(pa.array([PAD] * skip + messages, pa.string()), "message", skip)
    (out,) = make_encode_arrow(["doc_id"], "message")(iter([batch]))
    return out


def encode_tokens(messages, skip=0):
    """Detokenize + encode: each message is cut into vocab pieces of up to
    three characters, so tokens_to_buffer must splice them back together."""
    pieces = [re.findall(r".{1,3}", m, re.S) for m in [PAD] * skip + messages]
    vocab = sorted({p for ps in pieces for p in ps})
    ix = {p: i for i, p in enumerate(vocab)}
    tokens = pa.array([[ix[p] for p in ps] for ps in pieces], pa.list_(pa.int32()))
    batch = _sliced_batch(tokens, "tokens", skip)
    (out,) = make_detok_encode_arrow(vocab, ["doc_id"], "tokens")(iter([batch]))
    return out


ENCODERS = {
    "numpy": encode_text,
    "numpy-sliced": lambda m: encode_text(m, skip=3),
    "detok": encode_tokens,
    "detok-sliced": lambda m: encode_tokens(m, skip=3),
}


def assert_batch_matches_oracle(messages, encoder):
    out = encoder(messages).to_pydict()
    assert out["doc_id"] == list(range(len(messages)))
    for i, msg in enumerate(messages):
        exp = encode_message(msg)
        assert out["logtype"][i] == exp.logtype, f"logtype mismatch for {msg!r}"
        assert out["placeholders"][i] == exp.placeholders, f"placeholders for {msg!r}"
        assert out["encoded_vars"][i] == exp.encoded_vars, f"encoded_vars for {msg!r}"
        assert out["dict_vars"][i] == exp.dict_vars, f"dict_vars for {msg!r}"
        # and the batch output round-trips through the oracle decoder
        assert (
            decode_message(out["logtype"][i], out["encoded_vars"][i], out["dict_vars"][i])
            == msg
        )


@pytest.mark.parametrize("encoder", list(ENCODERS))
def test_fixture_messages(encoder):
    assert_batch_matches_oracle(FIXTURE_MESSAGES, ENCODERS[encoder])


# alphabet biased toward the interesting characters
_ALPHABET = st.sampled_from(
    list("abcdefz ABZ 0123456789 .-+=/\\_:,!%*?\x11\x12\x13\t~[]") + ["é"]
)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.text(_ALPHABET, min_size=0, max_size=60), min_size=1, max_size=20))
@example([""])  # a batch of one empty message: the encoders pad its buffer
def test_fuzz_parity(messages):
    for encoder in ENCODERS.values():
        assert_batch_matches_oracle(messages, encoder)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.integers(min_value=-(2**64), max_value=2**64).map(str),
            st.floats(allow_nan=False, allow_infinity=False).map(lambda f: repr(f)),
            st.from_regex(r"-?[0-9]{0,20}\.[0-9]{0,20}", fullmatch=True),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_fuzz_numeric_tokens(tokens):
    for encoder in ENCODERS.values():
        assert_batch_matches_oracle([" ".join(tokens)], encoder)


def test_kernels_import_without_pandas_or_pyspark():
    """The Arrow kernels run inside mapInArrow workers: importing them must
    load neither pandas nor pyspark."""
    code = (
        "import sys, clp_spark.functions.arrow_kernel, clp_spark.functions.decode_kernel_np; "
        "print(sorted(m for m in ('pandas', 'pyspark') if m in sys.modules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert out.stdout.strip() == "[]"
