"""CLI surface: compress / extract / search round trips via clp_spark.cli."""

import json

import pytest

from clp_spark import cli


@pytest.fixture(scope="module")
def logdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("clilogs")
    (d / "svc.log").write_text(
        "2016-05-08 07:34:05,251 INFO starting run 42\n"
        "  detail line\n"
        "2016-05-08 07:34:06,002 ERROR failure code 7\n"
    )
    return str(d)


@pytest.fixture(scope="module")
def archive(spark, logdir, tmp_path_factory, capsys_factory=None):
    out = str(tmp_path_factory.mktemp("cliarch"))
    cli.main(["c", out, f"{logdir}/svc.log"])
    return out


def test_compress_then_count(archive, capsys):
    cli.main(["s", archive, "*failure*", "--count"])
    assert capsys.readouterr().out.strip().splitlines()[-1] == "1"


def test_count_by_time_skips_untimestamped_lines(tmp_path, capsys):
    """A line with no timestamp has no time bucket: `s --count-by-time`
    leaves it out on a single archive as on an archives directory."""
    (tmp_path / "a.log").write_text(
        "no timestamp task 0 started\n"
        "2024-01-01 00:00:01 task 1 started\n"
    )
    arch = str(tmp_path / "archives" / "a")
    cli.main(["c", arch, str(tmp_path / "a.log")])
    capsys.readouterr()
    for target in (arch, str(tmp_path / "archives")):
        cli.main(["s", target, "task", "--count-by-time", "60000"])
        assert capsys.readouterr().out.split() == ["1704067200000", "1"]
        # --count wins over --count-by-time and counts every match
        cli.main(["s", target, "task", "--count", "--count-by-time", "60000"])
        assert capsys.readouterr().out.split() == ["2"]


def test_search_prints_messages(archive, capsys):
    cli.main(["s", archive, "*starting run*"])
    out = capsys.readouterr().out
    assert "starting run 42" in out and "detail line" in out


def test_extract_all(archive, capsys):
    cli.main(["x", archive])
    out = capsys.readouterr().out
    assert "ERROR failure code 7" in out


class TestRemovePathPrefix:
    """clp c --remove-path-prefix (utils.cpp remove_prefix_and_clean_up_path
    + CommandLineArguments.cpp:419-424 validation): stored file paths lose
    the directory prefix; inputs outside the prefix are rejected."""

    @pytest.fixture(scope="class")
    def tree(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("rpp")
        sub = d / "var" / "log"
        sub.mkdir(parents=True)
        (sub / "a.log").write_text(
            "2016-05-08 07:34:05,000 INFO alpha one\n"
        )
        (sub / "b.log").write_text(
            "2016-05-08 07:34:06,000 INFO beta two\n"
        )
        return d

    def test_stored_paths_lose_prefix(self, spark, tree, tmp_path, capsys):
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(tree / "var" / "log" / "a.log"),
                  str(tree / "var" / "log" / "b.log"),
                  "--remove-path-prefix", str(tree)])
        capsys.readouterr()
        sinks = spark.read.option("basePath", f"{arch}/sinks").parquet(
            f"{arch}/sinks"
        )
        fids = sorted(
            r["file_id"] for r in sinks.select("file_id").distinct().collect()
        )
        assert fids == ["var/log/a.log", "var/log/b.log"]
        # search still round-trips over the renamed ids
        cli.main(["s", arch, "*beta*"])
        assert "beta two" in capsys.readouterr().out

    def test_prefix_must_exist_and_contain_inputs(self, tree, tmp_path):
        with pytest.raises(SystemExit, match="does not exist"):
            cli.main(["c", str(tmp_path / "a1"), str(tree / "var/log/a.log"),
                      "--remove-path-prefix", str(tmp_path / "nope")])
        with pytest.raises(SystemExit, match="is not a directory"):
            cli.main(["c", str(tmp_path / "a2"), str(tree / "var/log/a.log"),
                      "--remove-path-prefix", str(tree / "var/log/a.log")])
        with pytest.raises(SystemExit, match="does not contain prefix"):
            cli.main(["c", str(tmp_path / "a3"), str(tree / "var/log/a.log"),
                      "--remove-path-prefix", str(tmp_path)])

    def test_multi_archive_prefix_and_sort(self, spark, tree, tmp_path, capsys):
        import os

        # newest-first task assignment (--sort-input-files default true,
        # compression.cpp:122-126): b.log is newer → archive 0
        os.utime(tree / "var/log/a.log", (1_000_000, 1_000_000))
        os.utime(tree / "var/log/b.log", (2_000_000, 2_000_000))
        root = str(tmp_path / "archs")
        cli.main(["c", root, str(tree / "var" / "log"),
                  "--remove-path-prefix", str(tree),
                  "--target-archive-size", "10"])
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["archives"] == 2
        first = spark.read.option(
            "basePath", f"{root}/arch-00000/sinks"
        ).parquet(f"{root}/arch-00000/sinks")
        fids = {r["file_id"] for r in first.select("file_id").distinct().collect()}
        assert fids == {"var/log/b.log"}


def test_kql_over_jsonl(spark, tmp_path, capsys):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"idx": 0, "lvl": "INFO", "ms": 12}\n'
        '{"idx": 1, "lvl": "ERROR", "ms": 91}\n'
        '{"idx": 2, "lvl": "ERROR"}\n'
    )
    cli.main(["s-kql", str(p), "lvl: ERROR AND ms > 50"])
    out = capsys.readouterr().out.strip().splitlines()
    assert [json.loads(o)["idx"] for o in out if o.startswith("{")] == [1]


def test_convert_to_ir_and_back(spark, logdir, tmp_path, capsys):
    """Log-converter lifecycle: text → kv-IR chunks → decode == original."""
    out = str(tmp_path / "ir_chunks")
    cli.main(["convert", out, f"{logdir}/svc.log"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["events"] == 2 and summary["chunks"] >= 1
    assert summary["ir_bytes"] > 0

    from clp_spark.operators.decode import decode_df
    from clp_spark.sources.ir_stream import MAGIC_8BYTE, ir_to_events_df

    chunks = spark.read.parquet(out)
    blobs = [r["ir"] for r in chunks.collect()]
    assert all(b[:4] == MAGIC_8BYTE for b in blobs)
    events = ir_to_events_df(chunks, "ir", "stream")
    decoded = decode_df(events, ["stream", "ts"])
    msgs = sorted(r["message"] for r in decoded.collect())
    # same body semantics as `clp x` (test_logfiles): ts lives in the ts
    # column (IR TimestampVal record), the body is ts-stripped
    assert msgs == [
        " ERROR failure code 7",
        " INFO starting run 42\n  detail line",
    ]
    ts = sorted(r["ts"] for r in events.collect())
    assert ts[0] > 0 and ts == sorted(ts)


def test_compress_with_archive_splitting(spark, tmp_path, capsys):
    """`c --target-archive-size` cuts the input into multiple archives and
    `s <archives-dir>` searches them federated (clg semantics)."""
    d = tmp_path / "logs"
    d.mkdir()
    (d / "app.log.1").write_text(
        "2016-05-08 07:00:00,000 INFO first archive line\n"
        "2016-05-08 07:00:01,000 WARN slow response 11 ms from node-1\n"
    )
    (d / "app.log.2").write_text(
        "2016-05-08 08:00:00,000 INFO second archive line\n"
        "2016-05-08 08:00:01,000 WARN slow response 22 ms from node-2\n"
    )
    out = str(tmp_path / "archives")
    cli.main(["c", out, str(d), "--target-archive-size", "100"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["archives"] == 2 and summary["messages"] == 4

    cli.main(["s", out, "*slow response*", "--count"])
    assert capsys.readouterr().out.strip().splitlines()[-1] == "2"


def test_search_time_range_single_archive(spark, archive, capsys):
    """--tge/--tle filter per-message timestamps in single-archive mode
    (previously only the archives-directory federated branch honored them)."""
    sinks = spark.read.parquet(f"{archive}/sinks")
    lo, hi = [
        (r["lo"], r["hi"])
        for r in sinks.selectExpr(
            "min(ts_ms) as lo", "max(ts_ms) as hi"
        ).collect()
    ][0]
    assert lo < hi  # the two fixture messages have distinct timestamps
    cli.main(["s", archive, "*", "--count", "--tge", str(hi)])
    assert capsys.readouterr().out.strip().splitlines()[-1] == "1"
    cli.main(["s", archive, "*", "--count", "--tle", str(lo)])
    assert capsys.readouterr().out.strip().splitlines()[-1] == "1"
    cli.main(["s", archive, "*", "--count", "--tge", str(hi + 1)])
    assert capsys.readouterr().out.strip().splitlines()[-1] == "0"


def test_convert_four_byte_roundtrip(spark, tmp_path, capsys):
    """convert --four-byte emits the compact IR protocol; messages and
    timestamps survive transit (delta encoding + int/float demotions)."""
    d = tmp_path / "logs"
    d.mkdir()
    lines = [
        "2016-05-08 07:34:05,251 INFO small 7 big 3000000001 f 0.25",
        "2016-05-08 07:34:06,000 WARN precise 123456789.123456",
    ]
    (d / "a.log").write_text("\n".join(lines) + "\n")
    out = str(tmp_path / "ir4")
    cli.main(["convert", out, str(d / "a.log"), "--four-byte"])
    capsys.readouterr()

    from clp_spark.operators.decode import decode_df
    from clp_spark.sources.ir_four import MAGIC_4BYTE
    from clp_spark.sources.ir_stream import ir_to_events_df

    pdf = spark.read.parquet(out).toPandas()
    assert all(bytes(b[:4]) == MAGIC_4BYTE for b in pdf["ir"])
    events = ir_to_events_df(spark.read.parquet(out), "ir", "stream")
    decoded = decode_df(events, ["stream", "ts"]).orderBy("ts")
    got = [(r["ts"], r["message"]) for r in decoded.collect()]
    assert [m for _, m in got] == [
        " INFO small 7 big 3000000001 f 0.25",
        " WARN precise 123456789.123456",
    ]
    assert got[0][0] == 1462692845251 and got[1][0] == 1462692846000


def test_convert_preserves_log_order(spark, tmp_path, capsys):
    """The IR a converter emits preserves source log order even when every
    message shares one timestamp (the reference LogConverter writes events
    in file order; ts alone cannot recover it)."""
    d = tmp_path / "logs"
    d.mkdir()
    lines = [
        f"2016-05-08 07:34:05,251 INFO ordered message {i:04d}" for i in range(300)
    ]
    (d / "same_ts.log").write_text("\n".join(lines) + "\n")
    out = str(tmp_path / "ir_chunks")
    cli.main(["convert", out, str(d / "same_ts.log"), "--events-per-chunk", "32"])
    capsys.readouterr()

    from clp_spark.operators.decode import decode_df
    from clp_spark.sources.ir_stream import ir_to_events_df

    chunks = spark.read.parquet(out).orderBy("chunk_ix").coalesce(1)
    events = ir_to_events_df(chunks, "ir", "stream")
    decoded = decode_df(events, ["stream", "ts"])
    got = [r["message"] for r in decoded.collect()]
    want = [f" INFO ordered message {i:04d}" for i in range(300)]
    assert got == want


def test_search_regex_translated(archive, capsys):
    """--regex translates via clp regex_utils parity and rides the wildcard
    path: `failure code .` → `*failure code ?*` (prefix/suffix wildcards
    added, `.` → `?`)."""
    cli.main(["s", archive, "failure code .", "--regex", "--count"])
    assert capsys.readouterr().out.strip().splitlines()[-1] == "1"
    # anchored regex suppresses the implicit wildcards → no match (the
    # message has a timestamp prefix)
    cli.main(["s", archive, "^failure code 7$", "--regex", "--count"])
    assert capsys.readouterr().out.strip().splitlines()[-1] == "0"


def test_search_regex_untranslatable_errors(archive):
    with pytest.raises(SystemExit) as ei:
        cli.main(["s", archive, "failure|success", "--regex"])
    assert "not translatable" in str(ei.value)


class TestKqlAggregators:
    """clp-s search aggregator flags (--count-by-time/--min/--max/--unique,
    CommandLineArguments.cpp:783-798; aggregators.hpp:90-183) on both the
    raw-JSONL and compressed-archive inputs."""

    @pytest.fixture(scope="class")
    def jsonl(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("kqlagg")
        p = d / "logs.jsonl"
        lines = [
            '{"ts": 1000, "lvl": "INFO", "ms": 5}',
            '{"ts": 61000, "lvl": "ERROR", "ms": 9007199254740993}',
            '{"ts": 62000, "lvl": "ERROR", "ms": 2.5}',
            '{"ts": 122000, "lvl": "INFO", "ms": -3}',
        ]
        p.write_text("\n".join(lines) + "\n")
        return str(p)

    def test_count_by_time(self, jsonl, capsys):
        cli.main(["s-kql", jsonl, "*", "--count-by-time", "60000",
                  "--timestamp-key", "ts"])
        out = capsys.readouterr().out.strip().splitlines()
        assert out == ["0 1", "60000 2", "120000 1"]

    def test_min_max_exact_cross_type(self, jsonl, capsys):
        # max must pick the int64 9007199254740993 EXACTLY (a double cast
        # would round it to ...992 and tie wrongly against floats)
        cli.main(["s-kql", jsonl, "*", "--max", "ms"])
        assert capsys.readouterr().out.strip() == "9007199254740993"
        cli.main(["s-kql", jsonl, "*", "--min", "ms"])
        assert capsys.readouterr().out.strip() == "-3"
        cli.main(["s-kql", jsonl, 'lvl: "ERROR"', "--min", "ms"])
        assert capsys.readouterr().out.strip() == "2.5"

    def test_unique(self, jsonl, capsys):
        cli.main(["s-kql", jsonl, "*", "--unique", "lvl"])
        assert capsys.readouterr().out.strip().splitlines() == ["ERROR", "INFO"]

    def test_mutually_exclusive(self, jsonl):
        with pytest.raises(SystemExit) as ei:
            cli.main(["s-kql", jsonl, "*", "--count", "--min", "ms"])
        assert "mutually exclusive" in str(ei.value)

    def test_wildcard_field_rejected(self, jsonl):
        with pytest.raises(SystemExit) as ei:
            cli.main(["s-kql", jsonl, "*", "--min", "m*"])
        assert "must not contain wildcards" in str(ei.value)

    def test_archive_min(self, jsonl, tmp_path, capsys):
        arch = str(tmp_path / "agg_arch")
        cli.main(["c", arch, jsonl, "--json"])
        capsys.readouterr()
        cli.main(["s-kql", arch, 'lvl: "ERROR"', "--max", "ms"])
        assert capsys.readouterr().out.strip() == "9007199254740993"


class TestProjection:
    """clp-s --projection (CommandLineArguments.cpp:759-765): only the
    given leaf columns in matching results, nested structure preserved,
    JSON types intact, wildcards/duplicates rejected."""

    @pytest.fixture(scope="class")
    def jsonl(self, tmp_path_factory):
        p = tmp_path_factory.mktemp("proj") / "logs.jsonl"
        p.write_text(
            '{"ts": 1, "req": {"path": "/a", "ms": 5}, "lvl": "INFO"}\n'
            '{"ts": 2, "req": {"path": "/b"}, "lvl": "ERROR"}\n'
        )
        return str(p)

    def test_projection_types_and_nesting(self, jsonl, capsys):
        cli.main(["s-kql", jsonl, "*", "--projection", "req.ms", "lvl"])
        out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
        assert {"req": {"ms": 5}, "lvl": "INFO"} in out
        assert {"req": {}, "lvl": "ERROR"} in out  # absent leaf omitted

    def test_projection_on_archive(self, jsonl, tmp_path, capsys):
        arch = str(tmp_path / "projarch")
        cli.main(["c", arch, jsonl, "--json"])
        capsys.readouterr()
        cli.main(["s-kql", arch, 'lvl: "ERROR"', "--projection", "ts"])
        out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
        assert out == [{"ts": 2}]

    def test_projection_rejects_wildcards_and_dups(self, jsonl):
        with pytest.raises(SystemExit, match="wildcards"):
            cli.main(["s-kql", jsonl, "*", "--projection", "req.*"])
        with pytest.raises(SystemExit, match="duplicate"):
            cli.main(["s-kql", jsonl, "*", "--projection", "ts", "ts"])


class TestKqlTimeRangeAndMaxResults:
    """clp-s search's --tge/--tle (AddTimestampConditions, clp-s.cpp:180-199:
    ANDed range conditions on the authoritative timestamp column) and
    --max-num-results (ResultsCacheOutputHandler min-heap,
    OutputHandlerImpl.cpp:155-178: keep the MAX latest-timestamp results)."""

    @pytest.fixture(scope="class")
    def corpus(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("kqlts")
        p = d / "ev.jsonl"
        p.write_text("".join(
            json.dumps({"i": i, "ts": 1_000_000 + i * 1000,
                        "msg": f"event {i}"}) + "\n"
            for i in range(20)
        ))
        return str(p)

    @pytest.fixture(scope="class")
    def archive(self, spark, corpus, tmp_path_factory):
        arch = str(tmp_path_factory.mktemp("kqlts_arch") / "arch")
        cli.main(["c", arch, corpus, "--json", "--timestamp-key", "ts"])
        return arch

    def _ids(self, capsys):
        return sorted(
            json.loads(l)["i"]
            for l in capsys.readouterr().out.strip().splitlines() if l
        )

    def test_tge_tle_on_archive(self, archive, capsys):
        capsys.readouterr()
        cli.main(["s-kql", archive, "*", "--tge", "1005000",
                  "--tle", "1008000"])
        assert self._ids(capsys) == [5, 6, 7, 8]

    def test_tge_tle_on_raw_jsonl(self, corpus, capsys):
        cli.main(["s-kql", corpus, 'msg: "event*"', "--timestamp-key", "ts",
                  "--tle", "1002000"])
        assert self._ids(capsys) == [0, 1, 2]

    def test_tge_requires_timestamp_key(self, corpus):
        with pytest.raises(SystemExit, match="authoritative timestamp"):
            cli.main(["s-kql", corpus, "*", "--tge", "5"])

    def test_max_num_results_latest(self, archive, capsys):
        capsys.readouterr()
        cli.main(["s-kql", archive, "*", "--max-num-results", "3"])
        # keeps the 3 LARGEST timestamps, not an arbitrary 3
        assert self._ids(capsys) == [17, 18, 19]

    def test_max_num_results_composes_with_range(self, archive, capsys):
        capsys.readouterr()
        cli.main(["s-kql", archive, "*", "--tle", "1010000",
                  "--max-num-results", "2"])
        assert self._ids(capsys) == [9, 10]


class TestClgTimeAndFileFlags:
    """clg's strict/exact time flags (--tgt/--tlt/--teq,
    clg/CommandLineArguments.cpp:216-257) and --file-path."""

    @pytest.fixture(scope="class")
    def tsarchive(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("clgflags")
        (d / "x.log").write_text(
            "2016-05-08 07:34:05,000 INFO alpha one\n"
            "2016-05-08 07:34:06,000 INFO alpha two\n"
            "2016-05-08 07:34:07,000 INFO alpha three\n"
        )
        (d / "y.log").write_text("2016-05-08 07:34:06,000 INFO beta one\n")
        arch = str(tmp_path_factory.mktemp("clgarch"))
        cli.main(["c", arch, str(d / "x.log"), str(d / "y.log")])
        sinks = spark.read.parquet(f"{arch}/sinks")
        ts = sorted(r["ts_ms"] for r in sinks.select("ts_ms").collect())
        return arch, ts, str(d)

    def _count(self, capsys, argv):
        cli.main(argv)
        return int(capsys.readouterr().out.strip().splitlines()[-1])

    def test_strict_and_exact_bounds(self, tsarchive, capsys):
        arch, ts, _ = tsarchive
        mid = ts[1]  # two messages share this timestamp (alpha two, beta one)
        assert self._count(capsys, ["s", arch, "*", "--count", "--teq", str(mid)]) == 2
        assert self._count(capsys, ["s", arch, "*", "--count", "--tgt", str(mid)]) == 1
        assert self._count(capsys, ["s", arch, "*", "--count", "--tge", str(mid)]) == 3
        assert self._count(capsys, ["s", arch, "*", "--count", "--tlt", str(mid)]) == 1
        assert self._count(capsys, ["s", arch, "*", "--count", "--tle", str(mid)]) == 3

    def test_flag_exclusions(self, tsarchive):
        arch, ts, _ = tsarchive
        with pytest.raises(SystemExit, match="teq cannot"):
            cli.main(["s", arch, "*", "--teq", "1", "--tge", "2"])
        with pytest.raises(SystemExit, match="tgt cannot"):
            cli.main(["s", arch, "*", "--tgt", "1", "--tge", "2"])
        with pytest.raises(SystemExit, match="tlt cannot"):
            cli.main(["s", arch, "*", "--tlt", "5", "--tle", "4"])

    def test_file_path_filter(self, tsarchive, capsys):
        arch, _, logdir = tsarchive
        assert self._count(
            capsys, ["s", arch, "*", "--count", "--file-path", f"file:{logdir}/y.log"]
        ) == 1
        assert self._count(
            capsys, ["s", arch, "*", "--count", "--file-path", f"file:{logdir}/x.log"]
        ) == 3


class TestSchemaPath:
    """clp c --schema-path lifecycle: compress under a user schema file,
    extract byte-exact, and `s` auto-selects schema-aware compilation
    (reference clp c --schema-path + GrepCore use_heuristic=false)."""

    @pytest.fixture(scope="class")
    def schema_archive(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("schemacli")
        (d / "schema.txt").write_text(
            "delimiters: \\t\\r\\n:,=\n"
            "timestamp:\\d{4}\\-\\d{2}\\-\\d{2} \\d{2}:\\d{2}:\\d{2}\n"
            "int:\\-{0,1}[0-9]+\n"
            "verb:started|failed\n"
        )
        (d / "app.log").write_text(
            "2016-05-08 07:34:05 job 12 started ok\n"
            "2016-05-08 07:34:06 job 13 failed badly\n"
        )
        out = str(d / "arch")
        cli.main(
            ["c", out, str(d / "app.log"), "--schema-path", str(d / "schema.txt")]
        )
        return out

    def test_extract_byte_exact(self, schema_archive, capsys):
        cli.main(["x", schema_archive])
        out = capsys.readouterr().out
        assert "2016-05-08 07:34:05 job 12 started ok" in out
        assert "2016-05-08 07:34:06 job 13 failed badly" in out

    def test_schema_aware_search(self, schema_archive, capsys):
        # 'failed' is a schema variable (verb rule) — heuristic compilation
        # would treat it as logtype text and miss
        cli.main(["s", schema_archive, "* failed badly*"])
        out = capsys.readouterr().out
        assert "job 13 failed badly" in out and "job 12" not in out

    def test_schema_search_count(self, schema_archive, capsys):
        cli.main(["s", schema_archive, "*job 1?*", "--count"])
        assert capsys.readouterr().out.strip().splitlines()[-1] == "2"

    def test_schema_rejects_glt(self, schema_archive, tmp_path, capsys):
        with pytest.raises(SystemExit):
            cli.main(
                ["c", str(tmp_path / "a"), "nope.log", "--schema-path",
                 "x", "--glt"]
            )

    def test_schema_search_time_range(self, schema_archive, capsys):
        # schema archives carry best-effort ts_ms (built-in parse of the
        # header token) — clg time flags compose with schema-aware search
        import datetime as _dt

        lo = int(_dt.datetime(2016, 5, 8, 7, 34, 6).timestamp() * 1000) - 1
        cli.main(["s", schema_archive, "*job*", "--tge", str(lo)])
        out = capsys.readouterr().out
        assert "job 13 failed badly" in out and "job 12" not in out
