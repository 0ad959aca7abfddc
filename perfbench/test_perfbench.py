"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import zlib

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus, expect, steady  # noqa: E402
from perfbench.trace import Tracer, self_time  # noqa: E402


def _tree_hash(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                data = f.read()
            if name == "truth.json":  # holds absolute paths of its own dir
                data = data.replace(root.encode(), b"<root>")
            h.update(data)
    return h.hexdigest()


def _corpus_hash(tmp_path, workload: str, seed: int, tag: str) -> str:
    out = tmp_path / f"{workload}-{seed}-{tag}"
    out.mkdir()
    truth = corpus.WRITERS[workload](seed, str(out))
    with open(out / "truth.json", "w") as f:
        json.dump(truth, f)
    return _tree_hash(str(out))


@pytest.mark.parametrize("workload", ["text_archive", "seq_pipeline"])
def test_corpus_is_a_function_of_the_seed(tmp_path, monkeypatch, workload):
    monkeypatch.setattr(corpus, "SEQ_ROWS", 3_000)
    monkeypatch.setattr(corpus, "SEQ_WARM_ROWS", 300)
    monkeypatch.setattr(corpus, "TEXT_EVENTS", 3_000)
    a = _corpus_hash(tmp_path, workload, 5, "a")
    b = _corpus_hash(tmp_path, workload, 5, "b")
    c = _corpus_hash(tmp_path, workload, 6, "c")
    assert a == b
    assert a != c


def test_text_corpus_shape(tmp_path, monkeypatch):
    monkeypatch.setattr(corpus, "TEXT_EVENTS", 4_000)
    truth = corpus.write_text_corpus(3, str(tmp_path))
    text = "".join(open(p).read() for p in truth["inputs"])
    assert text.endswith("\n")
    assert truth["raw_bytes"] == len(text.encode())
    assert truth["lines"] == text.count("\n")
    # continuation lines exist and never start with a timestamp
    cont = [ln for ln in text.split("\n") if ln.startswith("\tat ")]
    assert 0.05 * truth["records"] < len(cont) < 0.3 * truth["records"]
    by_name = {q["name"]: q for q in truth["queries"]}
    assert by_name["nohit"]["expect"]["hits"] == 0
    assert by_name["broad"]["expect"]["hits"] >= 0.05 * truth["records"]
    assert by_name["int"]["expect"]["hits"] >= 1
    aggregates = [q for q in truth["queries"] if q["flags"]]
    assert len(aggregates) / len(truth["queries"]) == pytest.approx(0.2)


def test_text_var_queries_keep_their_template_across_seeds(monkeypatch):
    """Seeds change the values of the int, float and id queries, never the
    template (and so the candidate rows) they are drawn from."""
    monkeypatch.setattr(corpus, "TEXT_EVENTS", 4_000)
    heads, queries = set(), set()
    for seed in (1, 2, 3):
        templates, events = corpus.text_events(seed)
        mix = {q["name"]: q["query"] for q in corpus.text_queries(seed, templates, events)}
        picked = [mix[n] for n in ("int", "float", "dictvar")]
        heads.add(tuple(q.split(" ")[0] for q in picked))
        queries.add(tuple(picked))
        assert all(len(q.split(" ")[1]) >= corpus.VAR_QUERY_MIN_LEN for q in picked)
    assert len(heads) == 1
    assert len(queries) == 3


@pytest.mark.parametrize("query,text,hit", [
    ("*", "", True),
    ("*", "a\nb", True),
    ("a*c", "abbbc", True),
    ("a*c", "abcd", False),
    ("a?c", "abc", True),
    ("a?c", "ac", False),
    ("a?c", "a\nc", True),
    (r"a\*c", "a*c", True),
    (r"a\*c", "abc", False),
    (r"a\?c", "a?c", True),
    (r"a\?c", "abc", False),
    ("a\\\\b", "a\\b", True),
    ("a\\\\b", "ab", False),
    ("a\\", "a\\", True),
    (r"\a1", "a1", True),
    ("a.c", "abc", False),
    ("(x)+", "(x)+", True),
    ("**x**", "yxy", True),
])
def test_wildcard_rules(query, text, hit):
    assert expect.wildcard_match(query, text) is hit


def test_search_wraps_the_query_in_stars():
    q = expect.search_substring("took 4?2")
    assert expect.wildcard_match(q, " INFO task took 412 ms")
    assert not expect.wildcard_match(q, " INFO task took 41 ms")


def test_output_digest_matches_printed_messages():
    msgs = ["b first\n\tat X.y(X.java:1)", "a second"]
    printed = "".join(m + "\n" for m in reversed(msgs))
    assert expect.output_digest(printed) == expect.lines_digest(expect.message_lines(msgs))
    # \x1c would split under str.splitlines(); it is not a line break here
    assert expect.output_lines("a\x1cb\n") == ["a\x1cb"]
    assert expect.output_lines("") == []


def test_count_by_time_and_crc():
    assert expect.count_by_time([0, 59_999, 60_000, 125_000], 60_000) == [
        "0 2", "60000 1", "120000 1"]
    assert expect.crc_sum(["k"], ["m"]) == zlib.crc32(b"k\x00m")


def _span(sid, parent, start, end, name="s"):
    return {"span_id": sid, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),   # overlaps span 1: counted once
        _span(3, 0, 7.0, 8.0),
        _span(4, 1, 1.5, 2.5),   # grandchild: already inside span 1
        _span(5, 0, 9.5, 12.0),  # runs past the parent: clipped at 10
    ]
    assert self_time(spans[0], spans) == pytest.approx(10 - 4 - 1 - 0.5)
    assert self_time(spans[1], spans) == pytest.approx(2 - 1)
    assert self_time(spans[3], spans) == pytest.approx(1)


def test_tracer_records_parents_and_counts():
    tr = Tracer("t")
    with tr.span("outer") as c:
        c["rows_in"] = 3
        with tr.span("inner"):
            pass
    with tr.span("next"):
        pass
    outer, inner, nxt = tr.spans
    assert inner["parent"] == outer["span_id"]
    assert outer["parent"] is None and nxt["parent"] is None
    assert outer["counts"] == {"rows_in": 3}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tr.bookkeeping_s >= 0


def test_spread_is_iqr_over_median():
    assert steady.spread([10.0] * 10) == 0.0
    vals = [float(v) for v in range(1, 11)]
    assert steady.spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)


class _FakeWorkload:
    """Workload with the Spark parts replaced: ops return fixed answers."""

    @staticmethod
    def make(wrong: bool):
        from perfbench.workloads import Workload

        class Fake(Workload):
            name = "fake"

            def start_session(self):
                pass

            def stop_session(self):
                pass

            def warm_up(self):
                pass

            def ingest(self):
                return self.op("ingest", lambda: 41, 42 if wrong else 41)[0] + 1.0

            def query(self, q):
                return self.op("q", lambda: "x\n", {"lines": 1},
                               lambda out: {"lines": len(expect.output_lines(out))})[0] + 0.1

            def extract(self):
                return self.op("x", lambda: None)[0] + 1.0

            def stored_bytes(self):
                return 1

            def metadata(self, load_start, setup_s):
                return {}

        return Fake(seed=1, work="/nonexistent", seconds=0, traced=False, process_start=0.0,
                    load_truth=lambda: {"seed": 1, "records": 10, "raw_bytes": 10,
                                        "queries": [{"name": "q"}]})


def test_wrong_expected_answer_is_a_failed_op():
    result, meta, _table, _tr = _FakeWorkload.make(wrong=True).run()
    assert result["failed"] == 1 and result["attempted"] == 3
    assert result["correct"] is False
    assert meta["ops_failed_ratio"] == pytest.approx(1 / 3)
    ok, _meta, _t, _tr = _FakeWorkload.make(wrong=False).run()
    assert ok["failed"] == 0 and ok["correct"] is True


def test_raising_op_is_a_failed_op():
    w = _FakeWorkload.make(wrong=False)

    def boom():
        raise SystemExit("error: no such archive")

    dt, res = w.op("s", boom, expected=1)
    assert res is None and w.failed == 1
    assert "no such archive" in w.failures[0]


def test_extracts_are_spread_over_the_query_cycle():
    w = _FakeWorkload.make(wrong=False)
    w.truth = {"queries": [{"name": f"q{i}"} for i in range(5)]}
    order = []
    w.query = lambda q: order.append(q["name"]) or 0.1
    w.extract = lambda: order.append("x") or 1.0
    w.EXTRACT_EVERY = 2
    queries, extracts = w.cycle()
    assert order == ["q0", "x", "q1", "q2", "x", "q3", "q4", "x"]
    assert len(queries) == 5 and len(extracts) == 3
