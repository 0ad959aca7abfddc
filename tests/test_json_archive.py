"""clp-s JSON-archive compress → reconstruct lifecycle.

Reference regressions mirrored: test-clp_s-end_to_end.cpp (round-trip
structural equality) and test-clp_s-delta-encode-log-order.cpp (record
ORDER preserved across interleaved schemas); JsonConstructor.hpp:34-68
construct_in_order semantics.
"""

import json
import os

import pytest

from clp_spark.operators.json_archive import (
    compress_jsonl_archive,
    is_json_archive,
    reconstruct_jsonl,
)

MIXED_LINES = [
    '{"ts": 1, "msg": "hello world", "ctx": {"lat": 1.5, "region": "us"}}',
    '{"ts": 2, "msg": "no ctx", "code": 404}',
    '{"ts": 3, "msg": "hello again", "ctx": {"lat": 2.5, "region": "eu"}}',
    '{"arr": [1, 2, 3], "tag": "ints"}',
    '{"arr": [1, {"x": 2}, null, "mix"], "tag": "mixed"}',
    '{"nul": null, "emp": {}, "b": true}',
    '{"deep": {"a": {"b": {"c": -7}}}}',
    '{"esc": "quote \\" slash \\\\ tab \\t end", "f": -0.125}',
    "5",
    '"bare string"',
    "[10, 20]",
    "{}",
    '{"ts": 4, "msg": "fourth", "code": 500}',
    '{"big": 9007199254740993}',
]


def _roundtrip(spark, tmp_path, lines, **kw):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(lines)],
                               "ord long, raw string")
    out = str(tmp_path / "jarchive")
    stats = compress_jsonl_archive(df, "raw", out, order_col="ord", **kw)
    assert stats["invalid"] == 0
    back = reconstruct_jsonl(spark, out).collect()
    return stats, back


class TestRoundTrip:
    def test_structural_equality_and_order(self, spark, tmp_path):
        stats, back = _roundtrip(spark, tmp_path, MIXED_LINES)
        assert stats["rows"] == len(MIXED_LINES)
        # ORDER: log_event_idx sequence is exactly the input order
        assert [r["log_event_idx"] for r in back] == list(range(len(MIXED_LINES)))
        # STRUCTURE: every reconstructed record parses equal to its input
        for r, line in zip(back, MIXED_LINES):
            assert json.loads(r["json"]) == json.loads(line), (r["json"], line)

    def test_structurize_arrays_roundtrip(self, spark, tmp_path):
        _, back = _roundtrip(spark, tmp_path, MIXED_LINES,
                             structurize_arrays=True)
        for r, line in zip(back, MIXED_LINES):
            assert json.loads(r["json"]) == json.loads(line)

    def test_interleaved_schema_order(self, spark, tmp_path):
        """delta-encode-log-order: alternating schemas must come back in
        source order, not grouped by schema table."""
        lines = []
        for i in range(60):
            if i % 3 == 0:
                lines.append(json.dumps({"a": i}))
            elif i % 3 == 1:
                lines.append(json.dumps({"b": {"x": i}, "s": f"v{i}"}))
            else:
                lines.append(json.dumps({"c": [i, i + 1]}))
        _, back = _roundtrip(spark, tmp_path, lines)
        assert [json.loads(r["json"]) for r in back] == [
            json.loads(x) for x in lines
        ]

    def test_invalid_json_raises_or_skips(self, spark, tmp_path):
        lines = ['{"a": 1}', "not json at all {{{"]
        df = spark.createDataFrame([(i, s) for i, s in enumerate(lines)],
                                   "ord long, raw string")
        with pytest.raises(ValueError, match="not valid JSON"):
            compress_jsonl_archive(df, "raw", str(tmp_path / "e"),
                                   order_col="ord")
        stats = compress_jsonl_archive(df, "raw", str(tmp_path / "s"),
                                       order_col="ord", on_invalid="skip")
        assert stats["invalid"] == 1 and stats["rows"] == 1

    def test_is_json_archive_detection(self, spark, tmp_path):
        _roundtrip(spark, tmp_path, ['{"a": 1}'])
        assert is_json_archive(str(tmp_path / "jarchive"))
        assert not is_json_archive(str(tmp_path))

    def test_no_per_row_python_in_reconstruction(self, spark, tmp_path):
        """Per-row Python (BatchEvalPython) never appears in the
        reconstruction plan. With float-format retention the descriptor
        restore is an Arrow-batched pandas UDF (the SURVEY §1.3
        dispensation); with it disabled the plan is pure JVM expressions."""
        _roundtrip(spark, tmp_path, MIXED_LINES)
        df = reconstruct_jsonl(spark, str(tmp_path / "jarchive"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        _roundtrip(
            spark, tmp_path.joinpath("noff"), MIXED_LINES,
            retain_float_format=False,
        )
        df = reconstruct_jsonl(spark, str(tmp_path / "noff" / "jarchive"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan


class TestCli:
    def test_cli_json_compress_extract(self, spark, tmp_path, capsys):
        from clp_spark import cli

        src = tmp_path / "in.jsonl"
        src.write_text("\n".join(MIXED_LINES) + "\n")
        arch = str(tmp_path / "arch")
        cli.main(["c", "--json", arch, str(src)])
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["rows"] == len(MIXED_LINES)
        cli.main(["x", arch])
        out_lines = capsys.readouterr().out.strip().splitlines()
        assert len(out_lines) == len(MIXED_LINES)
        for got, want in zip(out_lines, MIXED_LINES):
            assert json.loads(got) == json.loads(want)


class TestDiskSearch:
    """clp-s `s <archive>` parity: KQL over the stored typed tables must
    match the in-memory wide path on the same records, query for query."""

    QUERIES = [
        "ts: 2",
        "NOT ts: 2",
        "ctx.lat > 2.0",
        'msg: "hello*"',
        "code: *",
        "b: true",
        "deep.a.b.c < 0",
        "nul: null",
        "ts: 1 OR code: 500",
    ]

    @pytest.fixture(scope="class")
    def disk_archive(self, spark, tmp_path_factory):
        tmp = tmp_path_factory.mktemp("dsearch")
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(MIXED_LINES)], "ord long, raw string"
        )
        out = str(tmp / "arch")
        compress_jsonl_archive(df, "raw", out, order_col="ord")
        return df, out

    @pytest.mark.parametrize("q", QUERIES)
    def test_differential_vs_wide_path(self, spark, disk_archive, q):
        from clp_spark.operators.json_archive import search_json_archive
        from clp_spark.operators.json_search import search_jsonl

        df, arch = disk_archive
        want = {
            json.dumps(json.loads(r["raw"]), sort_keys=True)
            for r in search_jsonl(df, "raw", q).collect()
            if not isinstance(json.loads(r["raw"]), (int, str, list))
        }
        got = {
            json.dumps(json.loads(r["json"]), sort_keys=True)
            for r in search_json_archive(spark, arch, q).collect()
        }
        assert got == want, q

    def test_array_probe_from_disk(self, spark, disk_archive):
        from clp_spark.operators.json_archive import search_json_archive

        _, arch = disk_archive
        hits = search_json_archive(spark, arch, "arr.x: 2").collect()
        assert len(hits) == 1
        assert json.loads(hits[0]["json"])["tag"] == "mixed"

    def test_timestamp_key_from_disk(self, spark, tmp_path):
        from clp_spark.operators.json_archive import search_json_archive

        lines = [
            '{"idx": 0, "timestamp": 1759417024.1}',
            '{"idx": 1, "timestamp": 1759417024.2}',
            '{"idx": 2, "timestamp": 1759417024.3}',
        ]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
        )
        arch = str(tmp_path / "tsarch")
        compress_jsonl_archive(df, "raw", arch, order_col="ord")
        hits = search_json_archive(
            spark, arch,
            'timestamp > timestamp("1759417024.1") AND '
            'timestamp < timestamp("1759417024.3")',
            timestamp_key="timestamp",
        ).collect()
        assert [json.loads(r["json"])["idx"] for r in hits] == [1]
        # reconstruction output keeps the ORIGINAL (un-normalized) value
        assert json.loads(hits[0]["json"])["timestamp"] == 1759417024.2

    def test_cli_search_archive(self, spark, disk_archive, capsys):
        from clp_spark import cli

        _, arch = disk_archive
        cli.main(["s-kql", arch, "ts: *", "--count"])
        assert capsys.readouterr().out.strip().splitlines()[-1] == "4"


class TestFuzzRoundTrip:
    def test_random_json_corpus_roundtrips(self, spark, tmp_path):
        """Property: ANY JSONL corpus round-trips with order + structure
        preserved. One deterministic seeded corpus (hypothesis's spark
        overhead per example is prohibitive, so we draw many shapes into
        ONE archive instead of many tiny ones)."""
        import random

        rng = random.Random(20260818)

        def scalar():
            return rng.choice([
                rng.randint(-2**62, 2**62),
                rng.random() * 10 ** rng.randint(-10, 10),
                rng.choice([True, False]),
                None,
                "".join(rng.choice(' abc"\\\n\té中') for _ in
                        range(rng.randint(0, 12))),
            ])

        def value(depth):
            r = rng.random()
            if depth > 2 or r < 0.5:
                return scalar()
            if r < 0.75:
                return [value(depth + 1) for _ in range(rng.randint(0, 4))]
            return {
                f"k{rng.randint(0, 5)}": value(depth + 1)
                for _ in range(rng.randint(0, 4))
            }

        lines = []
        for _ in range(120):
            r = rng.random()
            if r < 0.1:
                lines.append(json.dumps(scalar()))
            else:
                lines.append(json.dumps(
                    {f"k{rng.randint(0, 8)}": value(0)
                     for _ in range(rng.randint(0, 5))}
                ))
        _, back = _roundtrip(spark, tmp_path, lines)
        assert [r["log_event_idx"] for r in back] == list(range(len(lines)))
        for r, line in zip(back, lines):
            assert json.loads(r["json"]) == json.loads(line), (r["json"], line)


class TestChunkedReconstruction:
    """construct_in_order chunked output (JsonConstructor.cpp:64-191):
    {archive_id}_{first}_{last+1}.jsonl naming, records never split,
    concatenation of chunks == the full ordered reconstruction."""

    def _archive(self, spark, tmp_path, n=200):
        lines = [
            json.dumps({"ts": i, "msg": f"event {i} " + "x" * (i % 17)})
            for i in range(n)
        ]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
        )
        out = str(tmp_path / "jarch")
        compress_jsonl_archive(df, "raw", out, order_col="ord")
        return out, lines

    def test_single_file_when_no_target(self, spark, tmp_path):
        from clp_spark.operators.json_archive import reconstruct_jsonl_chunks

        arch, lines = self._archive(spark, tmp_path, n=30)
        outdir = str(tmp_path / "out0")
        s = reconstruct_jsonl_chunks(spark, arch, outdir)
        assert s["chunks"] == 1 and s["rows"] == 30
        assert s["files"] == ["jarch_0_30.jsonl"]
        got = open(f"{outdir}/jarch_0_30.jsonl").read().splitlines()
        assert [json.loads(g) for g in got] == [json.loads(x) for x in lines]

    def test_chunked_order_and_naming(self, spark, tmp_path):
        from clp_spark.operators.json_archive import reconstruct_jsonl_chunks

        arch, lines = self._archive(spark, tmp_path, n=200)
        outdir = str(tmp_path / "out1")
        s = reconstruct_jsonl_chunks(
            spark, arch, outdir, target_chunk_size=1200
        )
        assert s["chunks"] > 3 and s["rows"] == 200
        # file names tile [0, 200) contiguously: first_last+1 ranges chain
        import re as _re

        spans = sorted(
            tuple(map(int, _re.match(r"jarch_(\d+)_(\d+)\.jsonl", f).groups()))
            for f in s["files"]
        )
        assert spans[0][0] == 0 and spans[-1][1] == 200
        for (a, b), (c, d) in zip(spans, spans[1:]):
            assert b == c
        # concatenation in span order == full ordered reconstruction
        all_lines = []
        for a, b in spans:
            chunk = open(f"{outdir}/jarch_{a}_{b}.jsonl").read().splitlines()
            assert len(chunk) == b - a  # idx is contiguous here
            all_lines.extend(chunk)
        assert [json.loads(g) for g in all_lines] == [
            json.loads(x) for x in lines
        ]
        # every chunk but the last carries ~target bytes (>= one record,
        # never split): size must be within one max-record of the target
        sizes = [
            sum(len(ln) + 1 for ln in open(f"{outdir}/jarch_{a}_{b}.jsonl")
                .read().splitlines())
            for a, b in spans
        ]
        max_rec = max(len(x) + 1 for x in lines)
        for sz in sizes[:-1]:
            assert sz <= 1200 + max_rec

    def test_cli_chunked_extract(self, spark, tmp_path, capsys):
        from clp_spark import cli

        arch, lines = self._archive(spark, tmp_path, n=50)
        outdir = str(tmp_path / "cliout")
        cli.main([
            "x", arch, "-o", outdir, "--ordered",
            "--target-ordered-chunk-size", "600",
            "--print-ordered-chunk-stats",
        ])
        lines = capsys.readouterr().out.strip().splitlines()
        out = json.loads(lines[-1])
        assert out["rows"] == 50 and out["chunks"] >= 2
        # --print-ordered-chunk-stats: one {"path": ...} line per chunk
        # (JsonConstructor.cpp:139-144), before the summary
        stats = [json.loads(ln) for ln in lines[:-1]]
        assert [os.path.basename(s["path"]) for s in stats] == out["files"]

    def test_cli_chunk_flags_require_ordered(self, tmp_path):
        from clp_spark import cli

        with pytest.raises(SystemExit):
            cli.main(["x", str(tmp_path / "a"), "-o", str(tmp_path / "o"),
                      "--target-ordered-chunk-size", "600"])
        with pytest.raises(SystemExit):
            cli.main(["x", str(tmp_path / "a"), "-o", str(tmp_path / "o"),
                      "--print-ordered-chunk-stats"])


class TestFederatedJsonArchives:
    """clp-s `s <archives-dir>` over a DIRECTORY of JSON archives
    (clp-s.cpp:92-110 iterate archives_dir) + --archive-id restriction."""

    @pytest.fixture(scope="class")
    def archives(self, spark, tmp_path_factory):
        root = tmp_path_factory.mktemp("jarchroot")
        for aid, lines in (
            ("arch_a", ['{"lvl": "ERROR", "svc": "a", "n": 1}',
                        '{"lvl": "INFO", "svc": "a", "n": 2}']),
            ("arch_b", ['{"lvl": "ERROR", "svc": "b", "n": 3}']),
        ):
            df = spark.createDataFrame(
                [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
            )
            compress_jsonl_archive(df, "raw", str(root / aid), order_col="ord")
        # a non-archive subdir must be ignored
        (root / "junk").mkdir()
        return str(root)

    def test_search_all(self, spark, archives):
        from clp_spark.operators.json_archive import search_json_archives

        res = search_json_archives(spark, archives, 'lvl: "ERROR"')
        rows = sorted(
            (r["archive_id"], json.loads(r["json"])["n"]) for r in res.collect()
        )
        assert rows == [("arch_a", 1), ("arch_b", 3)]

    def test_archive_id_restricts(self, spark, archives):
        from clp_spark.operators.json_archive import search_json_archives

        res = search_json_archives(spark, archives, "*", archive_id="arch_b")
        assert [json.loads(r["json"])["svc"] for r in res.collect()] == ["b"]
        with pytest.raises(ValueError, match="no archive"):
            search_json_archives(spark, archives, "*", archive_id="nope")

    def test_cli_dir_search(self, archives, capsys):
        from clp_spark import cli

        cli.main(["s-kql", archives, 'lvl: "ERROR"', "--count"])
        assert capsys.readouterr().out.strip().splitlines()[-1] == "2"
        cli.main(["s-kql", archives, "*", "--count", "--archive-id", "arch_a"])
        assert capsys.readouterr().out.strip().splitlines()[-1] == "2"


class TestMultiArchiveSplit:
    """clp-s c --target-encoded-size: the stream splits into contiguous,
    independently-searchable archives; federation over them reproduces the
    whole corpus in order."""

    def test_split_search_and_order(self, spark, tmp_path, capsys):
        from clp_spark import cli
        from clp_spark.operators.json_archive import (
            discover_json_archives, reconstruct_jsonl, search_json_archives,
        )

        lines = [json.dumps({"i": i, "pad": "x" * 40}) for i in range(120)]
        src = tmp_path / "in.jsonl"
        src.write_text("\n".join(lines) + "\n")
        root = str(tmp_path / "archroot")
        cli.main(["c", root, str(src), "--json",
                  "--target-encoded-size", "2000"])
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["archives"] >= 3 and out["rows"] == 120
        dirs = discover_json_archives(root)
        assert len(dirs) == out["archives"]
        # each archive holds a CONTIGUOUS idx range; concatenation in
        # archive order == the original stream
        all_i = []
        for d in dirs:
            got = [json.loads(r["json"])["i"]
                   for r in reconstruct_jsonl(spark, d).collect()]
            assert got == list(range(got[0], got[-1] + 1))
            all_i.extend(got)
        assert all_i == list(range(120))
        # federated search over the split set
        res = search_json_archives(spark, root, "i >= 118")
        assert sorted(json.loads(r["json"])["i"] for r in res.collect()) == [118, 119]


def test_cli_extract_archives_dir(spark, tmp_path, capsys):
    """`x <archives-dir> -o out`: every archive reconstructs into one output
    dir, chunk names disambiguated by archive id."""
    from clp_spark import cli

    src = tmp_path / "in.jsonl"
    src.write_text(
        "\n".join(json.dumps({"i": i, "pad": "z" * 40}) for i in range(60)) + "\n"
    )
    root = str(tmp_path / "r2")
    cli.main(["c", root, str(src), "--json", "--target-encoded-size", "1500"])
    capsys.readouterr()
    outdir = str(tmp_path / "xout")
    cli.main(["x", root, "-o", outdir, "--ordered"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["archives"] >= 2 and out["rows"] == 60
    import os as _os

    got = []
    for name in sorted(out["files"]):
        got += [json.loads(l)["i"] for l in open(_os.path.join(outdir, name))]
    assert sorted(got) == list(range(60))
    # default (no --ordered): the clp-s unordered store — every archive
    # appends to ONE "original" file, no global sort
    outdir2 = str(tmp_path / "xout_unordered")
    cli.main(["x", root, "-o", outdir2])
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["files"] == ["original"] and out2["rows"] == 60
    vals = [json.loads(l)["i"]
            for l in open(_os.path.join(outdir2, "original"))]
    assert sorted(vals) == list(range(60))


def test_timestamp_key_remembered(spark, tmp_path, capsys):
    """`c --json --timestamp-key ts` records the key in the manifest;
    search-side count-by-time and timestamp() comparisons default to it."""
    from clp_spark import cli
    from clp_spark.operators.json_archive import archive_timestamp_key

    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"ts": 1000, "lvl": "A"}\n{"ts": 61000, "lvl": "B"}\n'
        '{"ts": 62000, "lvl": "B"}\n'
    )
    arch = str(tmp_path / "tsarch")
    cli.main(["c", arch, str(src), "--json", "--timestamp-key", "ts"])
    capsys.readouterr()
    assert archive_timestamp_key(arch) == "ts"
    # no --timestamp-key on the search side — the archive remembers
    cli.main(["s-kql", arch, "*", "--count-by-time", "60000"])
    assert capsys.readouterr().out.strip().splitlines() == ["0 1", "60000 2"]


class TestFormattedFloatRetention:
    """clp-s retain-float-format (default ON) through the archive lifecycle.

    Reference parity: JsonParser.cpp:256-268 computes get_float_encoding on
    every float token at ingest, guarded by round_trip_is_identical
    (JsonParser.cpp:71,132) so a stored descriptor regenerates the source
    lexeme byte-for-byte; fixtures test_valid_formatted_float.jsonl /
    test_invalid_formatted_float.jsonl and the
    test-clp_s-search-formatted-float regression. Scope note (documented in
    json_archive.py): scalar float leaves — including nested-object floats —
    are byte-exact; floats INSIDE arrays keep their value but canonicalize,
    since unstructured arrays round-trip through variant text.
    """

    FIX = "/root/reference/components/core/src/clp_s/tests/test_log_files/"

    @staticmethod
    def _fixture_lines(name):
        try:
            with open(TestFormattedFloatRetention.FIX + name) as f:
                return [ln.strip() for ln in f if ln.strip()]
        except OSError:
            pytest.skip("reference fixture unavailable")

    _REC = __import__("re").compile(r'^\{\s*"([^"]+)"\s*:\s*(.+?)\s*\}$')

    def test_valid_fixture_byte_exact(self, spark, tmp_path):
        lines = self._fixture_lines("test_valid_formatted_float.jsonl")
        _, back = _roundtrip(spark, tmp_path, lines)
        checked = 0
        for r, line in zip(back, lines):
            m = self._REC.match(line)
            assert m, line
            key, raw = m.group(1), m.group(2)
            if raw.startswith("["):
                # array floats: value-preserving, format canonicalizes
                assert json.loads(r["json"]) == json.loads(line)
                continue
            assert r["json"] == '{"%s":%s}' % (key, raw), (r["json"], line)
            checked += 1
        assert checked >= 40  # every scalar record asserted byte-for-byte

    def test_invalid_fixture_value_preserving_fallback(self, spark, tmp_path):
        # formats the reference rejects (unsupported, or restoration isn't
        # byte-identical) must fall back to canonical rendering with the
        # double value intact
        lines = self._fixture_lines("test_invalid_formatted_float.jsonl")
        _, back = _roundtrip(spark, tmp_path, lines)
        for r, line in zip(back, lines):
            got, want = json.loads(r["json"]), json.loads(line)
            assert got == want, (r["json"], line)

    def test_nested_float_and_disabled_flag(self, spark, tmp_path):
        lines = [
            '{"a":{"b":1.2E3},"c":"x"}',
            '{"a":{"b":4.50e-2},"c":"y"}',
        ]
        _, back = _roundtrip(spark, tmp_path, lines)
        assert back[0]["json"] == '{"a":{"b":1.2E3},"c":"x"}'
        assert back[1]["json"] == '{"a":{"b":4.50e-2},"c":"y"}'
        _, off = _roundtrip(
            spark, tmp_path.joinpath("off"), lines, retain_float_format=False
        )
        assert off[0]["json"] == '{"a":{"b":1200.0},"c":"x"}'

    def test_mixed_supported_and_fallback_rows_one_schema(self, spark, tmp_path):
        # same schema, one row's format survives the round-trip guard and
        # one doesn't (17+ sig digits not exactly representable)
        lines = ['{"v":1.000E0}', '{"v":123456789.123456789}']
        _, back = _roundtrip(spark, tmp_path, lines)
        assert back[0]["json"] == '{"v":1.000E0}'
        assert json.loads(back[1]["json"])["v"] == 123456789.123456789

    def test_search_matches_value_and_emits_format(self, spark, tmp_path):
        # test-clp_s-search-formatted-float analog: predicates compare the
        # double VALUE; results re-emit the ingested lexeme
        from clp_spark.operators.json_archive import search_json_archive

        lines = self._fixture_lines("test_search_formatted_float.jsonl")
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
        )
        out = str(tmp_path / "sarch")
        compress_jsonl_archive(df, "raw", out, order_col="ord")
        hits = search_json_archive(
            spark, out, "formattedFloatValue: 3000"
        ).collect()
        assert len(hits) == 1
        assert '"formattedFloatValue":3E3' in hits[0]["json"]
        rng = search_json_archive(
            spark, out, "formattedFloatValue >= 5000"
        ).orderBy("log_event_idx").collect()
        assert ['"kkk"' in r["json"] or '"lll"' in r["json"] for r in rng] \
            == [True] * 2

    def test_internal_columns_never_resolve_in_search(self, spark, tmp_path):
        # bare-value / wildcard-column filters must not probe the float
        # format descriptors or the reconstruction text
        from clp_spark.operators.json_archive import search_json_archive

        lines = ['{"k":"alpha","f":1.5}', '{"k":"beta","f":2.5}']
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
        )
        out = str(tmp_path / "iarch")
        compress_jsonl_archive(df, "raw", out, order_col="ord")
        # "1.5" has descriptor 32 (two sig digits): a bare 32 must not match
        from clp_spark.functions.formatted_float import get_float_encoding

        fmt = get_float_encoding("1.5")
        assert search_json_archive(spark, out, str(fmt)).count() == 0
        # '*k*' matches no VALUE; the reconstruction text contains '"k":'
        assert search_json_archive(spark, out, '"*k*"').count() == 0

    def test_multi_archive_split_preserves_format(self, spark, tmp_path):
        from clp_spark.operators.json_archive import (
            compress_jsonl_archives_multi,
            discover_json_archives,
        )

        lines = ['{"i":%d,"v":1.%02dE2}' % (i, i) for i in range(40)]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
        )
        root = str(tmp_path / "marchs")
        res = compress_jsonl_archives_multi(
            df, "raw", root, target_encoded_size=300, order_col="ord"
        )
        assert res["archives"] >= 2
        got = {}
        for d in discover_json_archives(root):
            for r in reconstruct_jsonl(spark, d).collect():
                got[json.loads(r["json"])["i"]] = r["json"]
        assert len(got) == 40
        for i in range(40):
            assert got[i] == '{"i":%d,"v":1.%02dE2}' % (i, i)


class TestDisableLogOrder:
    """clp-s `--disable-log-order` (CommandLineArguments.cpp:417-420): the
    ingestion-order column is not stored (JsonParser.cpp:774); ordered
    decompression falls back to one unordered 'original' file with a
    warning (JsonConstructor.cpp:41-56)."""

    LINES = [
        '{"ts": 1, "msg": "alpha"}',
        '{"ts": 2, "msg": "beta", "code": 404}',
        '{"tag": "other-schema"}',
        '{"ts": 3, "msg": "gamma"}',
    ]

    def _build(self, spark, tmp_path, name="noord"):
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(self.LINES)], "ord long, raw string"
        )
        out = str(tmp_path / name)
        compress_jsonl_archive(
            df, "raw", out, order_col="ord", record_log_order=False
        )
        return out

    def test_idx_not_stored(self, spark, tmp_path):
        import os

        out = self._build(spark, tmp_path)
        manifest = json.load(open(os.path.join(out, "manifest.json")))
        assert manifest["log_order"] is False
        for entry in manifest["schemas"]:
            tbl = spark.read.parquet(
                os.path.join(out, f"schema_id={entry['schema_id']}")
            )
            assert "log_event_idx" not in tbl.columns

    def test_reconstruct_unordered_multiset(self, spark, tmp_path):
        out = self._build(spark, tmp_path)
        rows = reconstruct_jsonl(spark, out).collect()
        assert all(r["log_event_idx"] is None for r in rows)
        got = sorted(json.dumps(json.loads(r["json"]), sort_keys=True)
                     for r in rows)
        want = sorted(json.dumps(json.loads(s), sort_keys=True)
                      for s in self.LINES)
        assert got == want

    def test_search_still_exact(self, spark, tmp_path):
        from clp_spark.operators.json_archive import search_json_archive

        out = self._build(spark, tmp_path)
        hits = search_json_archive(spark, out, "code: 404").collect()
        assert len(hits) == 1
        assert json.loads(hits[0]["json"])["msg"] == "beta"
        assert hits[0]["log_event_idx"] is None

    def test_chunks_fall_back_to_original_file(self, spark, tmp_path):
        import os

        from clp_spark.operators.json_archive import reconstruct_jsonl_chunks

        out = self._build(spark, tmp_path)
        dst = str(tmp_path / "xout")
        s = reconstruct_jsonl_chunks(spark, out, dst, target_chunk_size=100)
        assert s == {"chunks": 1, "rows": len(self.LINES),
                     "files": ["original"]}
        lines = open(os.path.join(dst, "original")).read().splitlines()
        got = sorted(json.dumps(json.loads(ln), sort_keys=True)
                     for ln in lines)
        want = sorted(json.dumps(json.loads(s_), sort_keys=True)
                      for s_ in self.LINES)
        assert got == want

    def test_federated_mixed_order_archives(self, spark, tmp_path):
        from clp_spark.operators.json_archive import search_json_archives

        root = tmp_path / "mixed"
        root.mkdir()
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(self.LINES)], "ord long, raw string"
        )
        compress_jsonl_archive(df, "raw", str(root / "ordered"),
                               order_col="ord")
        compress_jsonl_archive(df, "raw", str(root / "unordered"),
                               order_col="ord", record_log_order=False)
        hits = search_json_archives(spark, str(root), "code: 404").collect()
        by_arch = {r["archive_id"]: r for r in hits}
        assert set(by_arch) == {"ordered", "unordered"}
        assert by_arch["ordered"]["log_event_idx"] == 1
        assert by_arch["unordered"]["log_event_idx"] is None

    def test_cli_lifecycle(self, tmp_path):
        import os
        import subprocess
        import sys as _sys

        src = tmp_path / "in.jsonl"
        src.write_text("\n".join(self.LINES) + "\n")
        arch = str(tmp_path / "arch")
        env = {**os.environ, "PYTHONPATH": "/root/repo"}
        r = subprocess.run(
            [_sys.executable, "-m", "clp_spark.cli", "c", "--json",
             "--disable-log-order", arch, str(src)],
            capture_output=True, text=True, env=env,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        dst = str(tmp_path / "out")
        r = subprocess.run(
            [_sys.executable, "-m", "clp_spark.cli", "x", arch, "-o", dst],
            capture_output=True, text=True, env=env,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        assert json.loads(r.stdout.strip().splitlines()[-1])["files"] == [
            "original"
        ]
        lines = open(os.path.join(dst, "original")).read().splitlines()
        got = sorted(json.dumps(json.loads(ln), sort_keys=True)
                     for ln in lines)
        want = sorted(json.dumps(json.loads(s_), sort_keys=True)
                      for s_ in self.LINES)
        assert got == want


class TestArchiveStatsAndCaps:
    """clp-s `--print-archive-stats` / `--compression-level` /
    `--max-document-size` analogs (ArchiveWriter.hpp:64-78 ArchiveStats,
    CommandLineArguments.hpp:242-245 defaults)."""

    def test_manifest_records_stats(self, spark, tmp_path):
        from clp_spark.operators.json_archive import archive_stats

        lines = [json.dumps({"ts": t, "msg": f"m{t}"}) for t in (7, 3, 9)]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
        )
        out = str(tmp_path / "stat_arch")
        compress_jsonl_archive(
            df, "raw", out, order_col="ord", timestamp_key="ts"
        )
        st = archive_stats(out)
        assert st["id"] == "stat_arch"
        assert st["begin_timestamp"] == 3 and st["end_timestamp"] == 9
        assert st["uncompressed_size"] == sum(len(s) + 1 for s in lines)
        assert st["size"] > 0 and st["is_split"] is False

    def test_double_timestamps_normalize_to_ms(self, spark, tmp_path):
        from clp_spark.operators.json_archive import archive_stats

        lines = [json.dumps({"ts": 1.5, "a": 1}), json.dumps({"ts": 2.25, "a": 2})]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
        )
        out = str(tmp_path / "dbl")
        compress_jsonl_archive(
            df, "raw", out, order_col="ord", timestamp_key="ts"
        )
        st = archive_stats(out)
        assert (st["begin_timestamp"], st["end_timestamp"]) == (1500, 2250)

    def test_stats_without_timestamp_key_zero(self, spark, tmp_path):
        from clp_spark.operators.json_archive import archive_stats

        _roundtrip(spark, tmp_path, ['{"a": 1}'])
        st = archive_stats(str(tmp_path / "jarchive"))
        assert (st["begin_timestamp"], st["end_timestamp"]) == (0, 0)

    def test_compression_level_pins_zstd_and_shrinks(self, spark, tmp_path):
        import os

        import pyarrow.parquet as pq

        # distinct text-heavy strings: parquet can't dictionary-collapse
        # them, so the zstd level decides the size (zstd levels are NOT
        # monotone on tiny PLAIN-int64 pages — text is where they are)
        lines = [
            json.dumps({"msg": f"2023-01-0{i % 9} INFO Task task_{i} assigned"
                               f" to [ContainerID:container_{i * 7 % 3001}],"
                               f" op took {i % 997}.{i % 31} ms"})
            for i in range(3000)
        ]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
        ).coalesce(1)  # big-enough files that the level difference shows
        sizes = {}
        for lvl in (1, 19):
            out = str(tmp_path / f"lvl{lvl}")
            compress_jsonl_archive(
                df, "raw", out, order_col="ord", compression_level=lvl
            )
            total = 0
            for root, _d, files in os.walk(out):
                for n in files:
                    p = os.path.join(root, n)
                    total += os.path.getsize(p)
                    if n.endswith(".parquet"):
                        meta = pq.ParquetFile(p).metadata
                        assert meta.row_group(0).column(0).compression == "ZSTD"
            sizes[lvl] = total
            back = reconstruct_jsonl(spark, out).collect()
            assert len(back) == 3000
        assert sizes[19] < sizes[1]

    def test_max_document_size_errors_then_skips(self, spark, tmp_path):
        lines = [json.dumps({"a": 1}), json.dumps({"big": "y" * 500})]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
        )
        with pytest.raises(ValueError, match="not valid JSON"):
            compress_jsonl_archive(
                df, "raw", str(tmp_path / "e"), order_col="ord",
                max_document_size=100,
            )
        stats = compress_jsonl_archive(
            df, "raw", str(tmp_path / "s"), order_col="ord",
            max_document_size=100, on_invalid="skip",
        )
        assert stats["invalid"] == 1 and stats["rows"] == 1
        back = reconstruct_jsonl(spark, str(tmp_path / "s")).collect()
        assert [json.loads(r["json"]) for r in back] == [{"a": 1}]

    def test_multi_split_stats_and_is_split(self, spark, tmp_path):
        from clp_spark.operators.json_archive import (
            archive_stats,
            compress_jsonl_archives_multi,
            discover_json_archives,
        )

        lines = [json.dumps({"ts": i, "pad": "x" * 40}) for i in range(120)]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
        )
        root = str(tmp_path / "multi")
        compress_jsonl_archives_multi(
            df, "raw", root, 2000, order_col="ord", timestamp_key="ts"
        )
        dirs = discover_json_archives(root)
        assert len(dirs) >= 3
        stats = [archive_stats(d) for d in dirs]
        # every archive but the LAST closes as a split
        # (JsonParser.cpp:1406,1411)
        assert [s["is_split"] for s in stats] == [True] * (len(dirs) - 1) + [False]
        # uncompressed bytes partition the input exactly
        assert sum(s["uncompressed_size"] for s in stats) == sum(
            len(s_) + 1 for s_ in lines
        )
        # contiguous ts ranges in archive order
        for a, b in zip(stats, stats[1:]):
            assert a["end_timestamp"] < b["begin_timestamp"]
        assert stats[0]["begin_timestamp"] == 0
        assert stats[-1]["end_timestamp"] == 119

    def test_cli_print_archive_stats(self, spark, tmp_path, capsys):
        from clp_spark import cli

        src = tmp_path / "in.jsonl"
        src.write_text("\n".join(MIXED_LINES) + "\n")
        arch = str(tmp_path / "arch_stats")
        cli.main(["c", "--json", "--print-archive-stats", arch, str(src)])
        out_lines = capsys.readouterr().out.strip().splitlines()
        st = json.loads(out_lines[-2])
        assert set(st) == {"id", "begin_timestamp", "end_timestamp",
                           "uncompressed_size", "size", "is_split"}
        assert st["id"] == "arch_stats" and st["size"] > 0
        assert json.loads(out_lines[-1])["rows"] == len(MIXED_LINES)

    def test_cli_print_stats_requires_json(self, tmp_path):
        from clp_spark import cli

        with pytest.raises(SystemExit):
            cli.main(["c", "--print-archive-stats",
                      str(tmp_path / "a"), str(tmp_path / "in.log")])

    def test_cli_sfa_stats_size_is_packed_file(self, spark, tmp_path, capsys):
        import os

        from clp_spark import cli

        src = tmp_path / "in.jsonl"
        src.write_text("\n".join(MIXED_LINES) + "\n")
        arch = str(tmp_path / "packed")
        cli.main(["c", "--json", "--single-file-archive",
                  "--print-archive-stats", arch, str(src)])
        out_lines = capsys.readouterr().out.strip().splitlines()
        st = json.loads(out_lines[-2])
        assert os.path.isfile(arch)
        assert st["size"] == os.path.getsize(arch)
        assert st["id"] == "packed"


class TestMinTableSize:
    """clp-s --min-table-size (ArchiveWriter.cpp:418-443): sub-threshold
    schema tables pack into one combined store; readers route via the
    manifest and results are IDENTICAL to the uncombined layout."""

    LINES = [
        '{"a": 1, "s": "one one"}',
        '{"a": 2, "s": "two"}',
        '{"b": {"x": 1.5}, "t": "u"}',
        '{"c": [1, 2], "n": 7}',
        '{"a": 3, "s": "three words here"}',
        '{"b": {"x": -2.5}, "t": "v"}',
        '{"d": true}',
        "42",
    ]

    def _make(self, spark, tmp_path, name, **kw):
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(self.LINES)], "ord long, raw string"
        )
        out = str(tmp_path / name)
        stats = compress_jsonl_archive(df, "raw", out, order_col="ord", **kw)
        return out, stats

    def test_combined_reconstruction_identical(self, spark, tmp_path):
        import json as _json

        plain, _ = self._make(spark, tmp_path, "plain")
        comb, stats = self._make(
            spark, tmp_path, "comb", min_table_size=1 << 30
        )
        assert stats["combined_tables"] >= 2
        assert os.path.isdir(os.path.join(comb, "combined_tables"))
        # the combined tables' own dirs are gone
        manifest = _json.load(open(os.path.join(comb, "manifest.json")))
        for e in manifest["schemas"]:
            combined = bool(e.get("combined"))
            exists = os.path.isdir(
                os.path.join(comb, f"schema_id={e['schema_id']}")
            )
            assert exists != combined
        want = [
            (r["log_event_idx"], _json.loads(r["json"]))
            for r in reconstruct_jsonl(spark, plain).collect()
        ]
        got = [
            (r["log_event_idx"], _json.loads(r["json"]))
            for r in reconstruct_jsonl(spark, comb).collect()
        ]
        assert got == want
        assert [i for i, _ in got] == list(range(len(self.LINES)))

    def test_combined_search_identical(self, spark, tmp_path):
        from clp_spark.operators.json_archive import search_json_archive

        plain, _ = self._make(spark, tmp_path, "plain")
        comb, _ = self._make(spark, tmp_path, "comb", min_table_size=1 << 30)
        for q in ['a > 1', 's: "two"', "b.x >= 0", "NOT d: true", "*: *"]:
            want = sorted(
                r["json"] for r in search_json_archive(spark, plain, q).collect()
            )
            got = sorted(
                r["json"] for r in search_json_archive(spark, comb, q).collect()
            )
            assert got == want, q

    def test_threshold_zero_and_one_are_noops(self, spark, tmp_path):
        from clp_spark.operators.json_archive import combine_small_tables

        arch, stats = self._make(spark, tmp_path, "noop")
        assert "combined_tables" not in stats
        # a 1-byte threshold can't be under-run by any real table
        assert combine_small_tables(spark, arch, 1) == 0
        assert not os.path.isdir(os.path.join(arch, "combined_tables"))

    def test_federated_mixed_combined_layouts(self, spark, tmp_path):
        """One archive combined, one not, same schemas — federation answers
        like the per-archive searches."""
        from clp_spark.operators.json_archive import (
            search_json_archive,
            search_json_archives,
        )

        root = tmp_path / "feds"
        root.mkdir()
        plain, _ = self._make(spark, root, "arch_plain")
        comb, _ = self._make(spark, root, "arch_comb", min_table_size=1 << 30)
        for q in ['a > 1', "b.x < 0", 's: "*one*"']:
            fed = search_json_archives(spark, str(root), q).collect()
            per = {
                ("arch_plain", r["log_event_idx"], r["json"])
                for r in search_json_archive(spark, plain, q).collect()
            } | {
                ("arch_comb", r["log_event_idx"], r["json"])
                for r in search_json_archive(spark, comb, q).collect()
            }
            assert {
                (r["archive_id"], r["log_event_idx"], r["json"]) for r in fed
            } == per, q

    def test_float_format_descriptors_survive_combining(self, spark, tmp_path):
        """retain-float-format descriptor columns ride the combined store —
        reconstruction stays byte-identical for formatted floats."""
        lines = ['{"v": 1.2E3, "k": 1}', '{"v": 5e-2, "k": 2}',
                 '{"w": "a b", "k": 3}']
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(lines)], "ord long, raw string"
        )
        out = str(tmp_path / "fmt")
        compress_jsonl_archive(
            df, "raw", out, order_col="ord", min_table_size=1 << 30
        )
        back = [r["json"] for r in reconstruct_jsonl(spark, out).collect()]
        # key order canonicalizes; the float LEXEMES must survive verbatim
        assert "1.2E3" in back[0] and "5e-2" in back[1]
        assert [json.loads(b) for b in back] == [json.loads(x) for x in lines]

    def test_cli_min_table_size(self, spark, tmp_path, capsys):
        from clp_spark import cli

        src = tmp_path / "in.jsonl"
        src.write_text("\n".join(self.LINES) + "\n")
        arch = str(tmp_path / "arch_cli")
        cli.main([
            "c", "--json", arch, str(src), "--min-table-size", str(1 << 30),
        ])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["combined_tables"] >= 2
        assert [
            json.loads(r["json"]) for r in reconstruct_jsonl(spark, arch).collect()
        ] == [json.loads(s) for s in self.LINES]


class TestStringTimestampKey:
    """String timestamp-key values parse through the default CAT patterns
    at ingest (JsonParser.cpp:578-601 ingest_string_timestamp →
    TimestampDictionaryWriter.cpp:42-97), the discovered patterns are
    recorded in the manifest (the timestamp-dictionary analog), and search
    normalizes identically — while the stored string column reconstructs
    byte-exact."""

    LINES = [
        '{"ts": "2024-03-01T10:00:01.123Z", "msg": "a"}',
        '{"ts": "2024-03-01T10:00:02.456Z", "msg": "b"}',
        '{"ts": "2024-03-01T10:00:03.789Z", "msg": "c"}',
    ]
    MS = [1_709_287_201_123, 1_709_287_202_456, 1_709_287_203_789]

    def _arch(self, spark, tmp_path):
        from clp_spark.operators.json_archive import compress_jsonl_archive

        df = spark.createDataFrame(
            [(i, ln) for i, ln in enumerate(self.LINES)], ["ord", "raw"]
        )
        out = str(tmp_path / "arch")
        compress_jsonl_archive(
            df, "raw", out, order_col="ord", timestamp_key="ts"
        )
        return out

    def test_manifest_range_and_patterns(self, spark, tmp_path):
        import json as _json
        import os as _os

        out = self._arch(spark, tmp_path)
        with open(_os.path.join(out, "manifest.json")) as f:
            m = _json.load(f)
        assert m["begin_timestamp"] == self.MS[0]
        assert m["end_timestamp"] == self.MS[2]
        assert m["timestamp_patterns"] == [
            r"\Y\O{-/}\m\O{-/}\d\O{T }\H:\M:\s\O{,.}\?\Z"
        ]

    def test_ts_range_search_and_roundtrip(self, spark, tmp_path):
        import json as _json

        from clp_spark.operators.json_archive import (
            reconstruct_jsonl,
            search_json_archive,
        )

        out = self._arch(spark, tmp_path)
        hits = search_json_archive(
            spark, out,
            'ts > timestamp("2024-03-01T10:00:01.123Z") AND '
            'ts <= timestamp("2024-03-01T10:00:03.789Z")',
        ).collect()
        assert sorted(
            _json.loads(r["json"])["msg"] for r in hits
        ) == ["b", "c"]
        # reconstruction keeps the original STRING form byte-exact
        back = [r["json"] for r in reconstruct_jsonl(spark, out).collect()]
        # the string form survives exactly (the stored column is untouched)
        assert all('"2024-03-01T10:00:0' in b for b in back)
        assert len(back) == 3

    def test_federated_and_cli_tge(self, spark, tmp_path, capsys):
        import json as _json

        from clp_spark import cli

        src = tmp_path / "logs.jsonl"
        src.write_text("\n".join(self.LINES) + "\n")
        arch = str(tmp_path / "jarch")
        cli.main(["c", arch, str(src), "--json", "--timestamp-key", "ts"])
        capsys.readouterr()
        cli.main(["s-kql", arch, "*", "--tge", str(self.MS[1])])
        got = [
            _json.loads(ln)["msg"]
            for ln in capsys.readouterr().out.strip().splitlines()
            if ln.startswith("{")
        ]
        assert sorted(got) == ["b", "c"]

    def test_time_window_prunes_whole_archives(self, spark, tmp_path,
                                               capsys):
        """Fleet-scale shape: --tge/--tle disjoint from a member
        archive's manifest time range skips that archive entirely
        (per-archive EvaluateTimestampIndex, clp-s.cpp:230-236), with
        results identical to the unpruned query."""
        import json as _json

        from clp_spark import cli
        from clp_spark.operators.json_archive import search_json_archives

        root = tmp_path / "fleet"
        root.mkdir()
        for ix, base in enumerate((1700000000000, 1800000000000)):
            src = tmp_path / f"in{ix}.jsonl"
            src.write_text("".join(
                _json.dumps({"ts": base + i * 1000,
                             "msg": f"a{ix}-{i}"}) + "\n"
                for i in range(4)
            ))
            cli.main(["c", str(root / f"arch{ix}"), str(src), "--json",
                      "--timestamp-key", "ts"])
        capsys.readouterr()
        # window covers only archive 1
        pruned = search_json_archives(
            spark, str(root), "msg: *", timestamp_key="ts",
            tge=1800000000000, tle=1900000000000,
        )
        got = sorted(
            _json.loads(r["json"])["msg"] for r in pruned.collect()
        )
        assert got == [f"a1-{i}" for i in range(4)]
        # parity: same window folded into the query, no archive prune
        unpruned = search_json_archives(
            spark, str(root),
            "msg: * AND ts >= 1800000000000 AND ts <= 1900000000000",
            timestamp_key="ts",
        )
        assert got == sorted(
            _json.loads(r["json"])["msg"] for r in unpruned.collect()
        )
        # a window hitting nobody folds the federated search to empty
        none = search_json_archives(
            spark, str(root), "msg: *", timestamp_key="ts",
            tge=1, tle=2,
        )
        assert none.count() == 0
        # a --timestamp-key override targeting a DIFFERENT field than
        # the manifest range was computed from must NOT prune on that
        # range (the window folds into the query only)
        override = search_json_archives(
            spark, str(root), "msg: *", timestamp_key="other_field",
            tge=1, tle=2,
        )
        assert override.count() == 8  # nothing pruned; query unfiltered

    def test_mixed_formats_two_patterns(self, spark, tmp_path):
        import json as _json
        import os as _os

        from clp_spark.operators.json_archive import (
            compress_jsonl_archive,
            search_json_archive,
        )

        lines = [
            '{"ts": "2024-03-01 10:00:01", "msg": "iso"}',
            '{"ts": "Mar 01, 2024 10:00:02 AM", "msg": "us"}',
        ]
        df = spark.createDataFrame(
            [(i, ln) for i, ln in enumerate(lines)], ["ord", "raw"]
        )
        out = str(tmp_path / "arch2")
        compress_jsonl_archive(
            df, "raw", out, order_col="ord", timestamp_key="ts"
        )
        with open(_os.path.join(out, "manifest.json")) as f:
            m = _json.load(f)
        assert len(m["timestamp_patterns"]) == 2
        hits = search_json_archive(
            spark, out, 'ts >= timestamp("2024-03-01 10:00:02")'
        ).collect()
        assert [_json.loads(r["json"])["msg"] for r in hits] == ["us"]


class TestStringTsAggregates:
    """count-by-time and --max-num-results over a STRING timestamp key:
    the value-based paths normalize with the archive-recorded patterns."""

    def _arch(self, spark, tmp_path, capsys):
        from clp_spark import cli

        src = tmp_path / "logs.jsonl"
        src.write_text(
            '{"ts": "2024-03-01T10:00:01Z", "msg": "a"}\n'
            '{"ts": "2024-03-01T10:00:02Z", "msg": "b"}\n'
            '{"ts": "2024-03-01T10:01:05Z", "msg": "c"}\n'
        )
        arch = str(tmp_path / "jarch")
        cli.main(["c", arch, str(src), "--json", "--timestamp-key", "ts"])
        capsys.readouterr()
        return arch

    def test_count_by_time(self, spark, tmp_path, capsys):
        from clp_spark import cli

        arch = self._arch(spark, tmp_path, capsys)
        cli.main(["s-kql", arch, "*", "--count-by-time", "60000"])
        out = capsys.readouterr().out.strip().splitlines()
        assert out == ["1709287200000 2", "1709287260000 1"]

    def test_latest_n(self, spark, tmp_path, capsys):
        import json as _json

        from clp_spark import cli

        arch = self._arch(spark, tmp_path, capsys)
        cli.main(["s-kql", arch, "*", "--max-num-results", "2"])
        got = sorted(
            _json.loads(ln)["msg"]
            for ln in capsys.readouterr().out.strip().splitlines()
        )
        assert got == ["b", "c"]  # the two LATEST by parsed string ts


class TestOneArchiveRoute:
    """`s-kql ARCHIVE q` and `s-kql ROOT q --archive-id NAME` are one route:
    the same member search over a fleet of one, on every archive layout."""

    @pytest.fixture(scope="class")
    def fleet(self, spark, tmp_path_factory):
        from clp_spark import cli

        d = tmp_path_factory.mktemp("route_parity")
        src = d / "in.jsonl"
        # three schemas, so --min-table-size has tables to combine
        recs = []
        for i in range(12):
            r = {"ts": 1700000000000 + i * 500, "n": i}
            if i % 3 == 0:
                r.update(lvl="ERROR", err={"code": i})
            elif i % 3 == 1:
                r.update(lvl="INFO", tags=[i, "x"])
            else:
                r.update(lvl="INFO", f=i * 1.5)
            recs.append(json.dumps(r) + "\n")
        src.write_text("".join(recs))
        root = d / "root"
        for name, extra in (
            ("ordered", []),
            ("unordered", ["--disable-log-order"]),
            ("combined", ["--min-table-size", "1000000"]),
            ("packed", ["--single-file-archive"]),
        ):
            cli.main(["c", str(root / name), str(src), "--json",
                      "--timestamp-key", "ts", *extra])
        return str(root), str(src)

    @pytest.mark.parametrize("name,query", [
        ("ordered", "lvl: ERROR OR n >= 10"),
        ("unordered", "lvl: ERROR OR n >= 10"),
        ("combined", "lvl: ERROR OR n >= 10"),
        ("packed", "lvl: ERROR OR n >= 10"),
        ("ordered", '$_filename: "{src}" AND lvl: ERROR'),
    ])
    def test_archive_and_archive_id_print_the_same(
        self, fleet, name, query, capsys
    ):
        from clp_spark import cli

        root, src = fleet
        query = query.format(src=src)
        capsys.readouterr()
        cli.main(["s-kql", os.path.join(root, name), query])
        direct = capsys.readouterr().out
        cli.main(["s-kql", root, query, "--archive-id", name])
        assert capsys.readouterr().out == direct
        assert len(direct.splitlines()) == (4 if "$_" in query else 6)


def test_archive_id_selects_timestamp_key(spark, tmp_path, capsys):
    """The timestamp key comes from the archive --archive-id selects, not
    from the first archive under the root."""
    from clp_spark import cli

    root = tmp_path / "root"
    for name, key in (("a0", None), ("a1", "ts")):
        src = tmp_path / f"{name}.jsonl"
        src.write_text("".join(
            json.dumps({"ts": 1700000000000 + i * 1000, "m": i}) + "\n"
            for i in range(3)
        ))
        cli.main(["c", str(root / name), str(src), "--json",
                  *(["--timestamp-key", key] if key else [])])
    capsys.readouterr()
    cli.main(["s-kql", str(root), "m: *", "--archive-id", "a1",
              "--count-by-time", "1000"])
    assert capsys.readouterr().out.split() == [
        "1700000000000", "1", "1700000001000", "1", "1700000002000", "1",
    ]
