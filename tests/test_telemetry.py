"""`--enable-telemetry` tests: query-shape metric counting against the
reference's classification matrix (SearchTelemetry.cpp add_column_shape /
add_predicate_type), OTLP endpoint resolution precedence
(TelemetryContext.cpp:73-93), and the end-to-end span POST from a real
archive search into an in-test OTLP/HTTP collector."""
from __future__ import annotations

import http.server
import json
import threading

import pytest

from clp_spark.operators.kql import parse_kql
from clp_spark.operators.telemetry import (
    SearchTelemetrySpan,
    hash64,
    query_shape_metrics,
    resolve_traces_endpoint,
)


def shape(q, tge=None, tle=None):
    return query_shape_metrics(parse_kql(q), tge, tle)


class TestQueryShape:
    def test_exact_string_predicate(self):
        m = shape('level: "ERROR"')
        assert m.num_predicates == 1
        assert m.num_no_wildcard == 1
        assert m.num_exact_match == 1
        assert m.num_string == 1
        assert m.num_integer == 0 and m.num_null == 0

    def test_wildcard_string_and_columns(self):
        m = shape('msg: "time*out" AND a.*.b: "x"')
        assert m.num_string_with_wildcard == 1
        assert m.num_string == 1
        assert m.num_some_wildcard == 1
        assert m.num_no_wildcard == 1
        assert m.contains_or_clause is False

    def test_pure_wildcard_and_bare_value(self):
        # '*: v' and a bare value both probe every column — pure wildcard
        m = shape('*: "x" OR "y"')
        assert m.num_pure_wildcard == 2
        assert m.contains_or_clause is True

    def test_numeric_counts_string_and_numeric_under_eq(self):
        # Integral converts to var-string under EQ (Integral.cpp:57-61)
        # AND to int/float — all three buckets, like the reference
        m = shape("code: 500")
        assert m.num_string == 1
        assert m.num_integer == 1
        assert m.num_floating_point == 1
        assert m.num_exact_match == 1

    def test_numeric_range_skips_string_bucket(self):
        m = shape("latency > 100")
        assert m.num_range == 1
        assert m.num_string == 0  # no var-string conversion for GT
        assert m.num_integer == 1
        assert m.num_floating_point == 1

    def test_quoted_numeric_is_string_and_numeric(self):
        m = shape('code > "500"')
        assert m.num_string == 1  # StringLiteral converts under any op
        assert m.num_integer == 1
        assert m.num_floating_point == 1

    def test_null_counts_null_and_string(self):
        m = shape("v: null")
        assert m.num_null == 1
        assert m.num_string == 1

    def test_exists_counted_alone(self):
        m = shape("key: *")
        assert m.num_exists == 1
        assert m.num_exact_match == 0
        assert m.num_string_with_wildcard == 0

    def test_value_list_expands_predicates(self):
        m = shape('a: (1 OR 2 OR 3)')
        assert m.num_predicates == 3
        assert m.contains_or_clause is True
        assert m.num_no_wildcard == 3

    def test_time_range(self):
        assert shape('a: 1', 100, 400).time_range_millis == 300
        assert shape('a: 1', 400, 100).time_range_millis is None
        assert shape('a: 1', None, 100).time_range_millis is None


class TestEndpointResolution:
    def test_precedence(self, monkeypatch):
        for var in ("OTEL_EXPORTER_OTLP_TRACES_ENDPOINT",
                    "OTEL_EXPORTER_OTLP_ENDPOINT",
                    "CLP_TELEMETRY_ENDPOINT"):
            monkeypatch.delenv(var, raising=False)
        assert resolve_traces_endpoint() is None
        monkeypatch.setenv("CLP_TELEMETRY_ENDPOINT", "http://h:4318///")
        assert resolve_traces_endpoint() == "http://h:4318/v1/traces"
        monkeypatch.setenv("OTEL_EXPORTER_OTLP_ENDPOINT", "http://o:1")
        assert resolve_traces_endpoint() == "http://o:1/v1/traces"
        monkeypatch.setenv("OTEL_EXPORTER_OTLP_TRACES_ENDPOINT",
                           "http://t:2/custom")
        assert resolve_traces_endpoint() == "http://t:2/custom"

    def test_hash64_is_stable_and_signed(self):
        assert hash64("q") == hash64("q")
        assert hash64("a") != hash64("b")
        assert -(2**63) <= hash64("query text") < 2**63


class Collector:
    """Minimal in-test OTLP/HTTP collector."""

    def __init__(self):
        self.payloads = []
        collector = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                n = int(self.headers["Content-Length"])
                collector.payloads.append(
                    (self.path, json.loads(self.rfile.read(n)))
                )
                self.send_response(200)
                self.end_headers()

            def log_message(self, *a):
                pass

        self.server = http.server.HTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )
        self.thread.start()

    def close(self):
        self.server.shutdown()
        self.server.server_close()

    def spans(self):
        out = []
        for _path, p in self.payloads:
            for rs in p["resourceSpans"]:
                for ss in rs["scopeSpans"]:
                    out.extend(ss["spans"])
        return out

    def attrs(self, span):
        d = {}
        for a in span["attributes"]:
            v = a["value"]
            d[a["key"]] = (
                int(v["intValue"]) if "intValue" in v
                else v.get("boolValue", v.get("stringValue"))
            )
        return d


@pytest.fixture()
def collector():
    c = Collector()
    yield c
    c.close()


class TestSpanExport:
    def test_span_posts_otlp_json(self, collector, monkeypatch):
        monkeypatch.setenv("CLP_TELEMETRY_ENDPOINT",
                           f"http://127.0.0.1:{collector.port}")
        span = SearchTelemetrySpan()
        span.set_query_context("level: ERROR")
        span.set_archive_context("abc123")
        span.set_termination_stage("")
        assert span.end() is True
        (path, _payload), = collector.payloads
        assert path == "/v1/traces"
        (s,) = collector.spans()
        assert s["name"] == "clp.query.archive"
        a = collector.attrs(s)
        assert a["clp.query.success"] is True
        assert a["clp.query.query_hash"] == hash64("level: ERROR")
        assert a["clp.query.archive_id_hash"] == hash64("abc123")

    def test_error_span_carries_status(self, collector, monkeypatch):
        monkeypatch.setenv("CLP_TELEMETRY_ENDPOINT",
                           f"http://127.0.0.1:{collector.port}")
        span = SearchTelemetrySpan()
        span.set_error("boom")
        assert span.end() is True
        (s,) = collector.spans()
        assert s["status"] == {"code": 2, "message": "boom"}
        assert collector.attrs(s)["clp.query.success"] is False

    def test_no_endpoint_is_silent_noop(self, monkeypatch):
        for var in ("OTEL_EXPORTER_OTLP_TRACES_ENDPOINT",
                    "OTEL_EXPORTER_OTLP_ENDPOINT",
                    "CLP_TELEMETRY_ENDPOINT"):
            monkeypatch.delenv(var, raising=False)
        assert SearchTelemetrySpan().end() is False

    def test_unreachable_endpoint_never_raises(self, monkeypatch):
        monkeypatch.setenv("CLP_TELEMETRY_ENDPOINT",
                           "http://127.0.0.1:9")  # discard port, refused
        assert SearchTelemetrySpan().end() is False


@pytest.fixture(scope="class")
def telemetry_archive(spark, tmp_path_factory):
    from clp_spark import cli

    root = tmp_path_factory.mktemp("telem")
    src = root / "logs.jsonl"
    src.write_text(
        "".join(
            json.dumps({"level": "ERROR" if i % 5 == 0 else "INFO",
                        "code": i}) + "\n"
            for i in range(50)
        )
    )
    arch = str(root / "arch")
    cli.main(["c", arch, str(src), "--json"])
    return arch


class TestSearchLifecycle:
    def run(self, collector, monkeypatch, arch, query, capsys):
        from clp_spark import cli

        monkeypatch.setenv("CLP_TELEMETRY_ENDPOINT",
                           f"http://127.0.0.1:{collector.port}")
        cli.main(["s-kql", arch, query, "--enable-telemetry"])
        capsys.readouterr()
        (s,) = collector.spans()
        return collector.attrs(s)

    def test_matching_search_records_counts(
        self, collector, monkeypatch, telemetry_archive, capsys, spark
    ):
        a = self.run(collector, monkeypatch, telemetry_archive,
                     'level: "ERROR"', capsys)
        assert a["clp.query.success"] is True
        assert a["clp.query.num_archive_records"] == 50
        assert a["clp.query.num_archive_records_matching_query"] == 10
        assert a["clp.query.num_matched_schemas"] == 1
        assert a["clp.query.num_schemas_with_matches"] == 1
        assert a["clp.query.termination_stage"] == ""
        assert a["clp.query.predicate_types.num_string"] == 1
        assert a["clp.query.num_predicates"] == 1

    def test_schema_pruned_search_terminates_early(
        self, collector, monkeypatch, telemetry_archive, capsys, spark
    ):
        a = self.run(collector, monkeypatch, telemetry_archive,
                     'no_such_key: "x"', capsys)
        assert a["clp.query.termination_stage"] == "schema_matching"
        assert a["clp.query.num_matched_schemas"] == 0
        assert a["clp.query.num_archive_records_matching_query"] == 0

    def test_range_index_prune_terminates_first(
        self, collector, monkeypatch, telemetry_archive, capsys, spark
    ):
        a = self.run(collector, monkeypatch, telemetry_archive,
                     '$_filename: "nope" AND level: "ERROR"', capsys)
        assert a["clp.query.termination_stage"] == "range_index_matching"
        assert a["clp.query.num_archive_records_matching_query"] == 0

    def test_time_range_prune_terminates(
        self, collector, monkeypatch, telemetry_archive, capsys, spark
    ):
        """--tge/--tle outside the archive's stored time range terminate
        at the timestamp-index stage (clp-s.cpp:230-236). The archive
        has no timestamps, so prune only on explicit impossible ranges
        against a timestamped twin."""
        import json as _json

        from clp_spark import cli

        # build a timestamped archive next to the fixture
        import tempfile

        d = tempfile.mkdtemp()
        src = f"{d}/t.jsonl"
        with open(src, "w") as f:
            for i in range(10):
                f.write(_json.dumps(
                    {"ts": 1700000000000 + i * 1000, "m": i}) + "\n")
        arch = f"{d}/arch"
        cli.main(["c", arch, src, "--json", "--timestamp-key", "ts"])
        capsys.readouterr()
        monkeypatch.setenv("CLP_TELEMETRY_ENDPOINT",
                           f"http://127.0.0.1:{collector.port}")
        cli.main(["s-kql", arch, "m: 3", "--enable-telemetry",
                  "--tge", "1800000000000", "--tle", "1900000000000"])
        capsys.readouterr()
        (s,) = collector.spans()
        a = collector.attrs(s)
        assert a["clp.query.termination_stage"] == "time_range_matching"
        assert a["clp.query.num_archive_records_matching_query"] == 0
        assert a["clp.query.time_range_millis"] == 100000000000

    def test_query_hash_covers_raw_query_only(
        self, collector, monkeypatch, telemetry_archive, capsys, spark
    ):
        """The hash identifies the USER query; shape metrics cover the
        ts-augmented one (clp-s.cpp:144 vs 209-215)."""
        a = self.run(collector, monkeypatch, telemetry_archive,
                     'level: "ERROR"', capsys)
        assert a["clp.query.query_hash"] == hash64('level: "ERROR"')

    def test_telemetry_composes_with_count(
        self, collector, monkeypatch, telemetry_archive, capsys, spark
    ):
        from clp_spark import cli

        monkeypatch.setenv("CLP_TELEMETRY_ENDPOINT",
                           f"http://127.0.0.1:{collector.port}")
        cli.main(["s-kql", telemetry_archive, 'level: "ERROR"',
                  "--enable-telemetry", "--count"])
        assert capsys.readouterr().out.strip() == "10"
        (s,) = collector.spans()
        a = collector.attrs(s)
        assert a["clp.query.num_archive_records_matching_query"] == 10

    def test_federated_emits_one_span_per_archive(
        self, collector, monkeypatch, capsys, spark, tmp_path
    ):
        """Federated search: one span per member archive (the
        reference's per-archive loop); time-pruned members carry their
        stage + record count."""
        import json as _json

        from clp_spark import cli

        root = tmp_path / "fleet"
        root.mkdir()
        for ix, base in enumerate((1700000000000, 1800000000000)):
            src = tmp_path / f"in{ix}.jsonl"
            src.write_text("".join(
                _json.dumps({"ts": base + i, "m": i}) + "\n"
                for i in range(5)
            ))
            cli.main(["c", str(root / f"a{ix}"), str(src), "--json",
                      "--timestamp-key", "ts"])
        capsys.readouterr()
        monkeypatch.setenv("CLP_TELEMETRY_ENDPOINT",
                           f"http://127.0.0.1:{collector.port}")
        cli.main(["s-kql", str(root), "m: *", "--enable-telemetry",
                  "--tge", "1800000000000"])
        capsys.readouterr()
        spans = collector.spans()
        assert len(spans) == 2
        by_stage = {}
        for s in spans:
            a = collector.attrs(s)
            by_stage[a["clp.query.termination_stage"]] = a
        pruned = by_stage["time_range_matching"]
        assert pruned["clp.query.num_archive_records"] == 5
        searched = by_stage[""]
        # scanned members keep the record count (it's manifest data) but
        # omit match counters (not attributable in the one-job plan)
        assert searched["clp.query.num_archive_records"] == 5
        assert ("clp.query.num_archive_records_matching_query"
                not in searched)
        # one batched POST for the whole fleet, never one per archive
        assert len(collector.payloads) == 1

    def test_federated_parse_error_is_not_masked(
        self, collector, monkeypatch, capsys, spark, tmp_path
    ):
        """A query that never parses raises its own parse error, alone: the
        telemetry export in `finally` must not parse the query again and
        raise a second error over the first."""
        from clp_spark import cli

        root = tmp_path / "fleet"
        root.mkdir()
        src = tmp_path / "in.jsonl"
        src.write_text('{"m": 1}\n')
        cli.main(["c", str(root / "a0"), str(src), "--json"])
        capsys.readouterr()
        monkeypatch.setenv("CLP_TELEMETRY_ENDPOINT",
                           f"http://127.0.0.1:{collector.port}")
        with pytest.raises(ValueError, match="KQL lex error") as err:
            cli.main(["s-kql", str(root), 'm: "unterminated',
                      "--enable-telemetry"])
        assert err.value.__context__ is None
        assert err.value.__cause__ is None

    def test_without_flag_no_span(
        self, collector, monkeypatch, telemetry_archive, capsys, spark
    ):
        from clp_spark import cli

        monkeypatch.setenv("CLP_TELEMETRY_ENDPOINT",
                           f"http://127.0.0.1:{collector.port}")
        cli.main(["s-kql", telemetry_archive, 'level: "ERROR"'])
        capsys.readouterr()
        assert collector.payloads == []
