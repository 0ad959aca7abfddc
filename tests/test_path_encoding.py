"""Special characters in input file names must survive every ingestion
route. Provenance matters: input_file_name() returns percent-encoded URIs
with '+' left LITERAL (java-style url_decode would corrupt it to a space),
while binaryFile paths arrive raw and must not be decoded at all (a literal
'%' would crash CANNOT_DECODE_URL). These tests pin the round-5 fix for
both families."""
from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

NASTY = "a+b %done"  # '+' (URI-literal) and '%'+space (percent-encoded)


class TestDecodeHelper:
    def test_uri_and_raw_forms(self, spark):
        from clp_spark.sources.logfiles import decode_file_uri_expr

        df = spark.createDataFrame(
            [
                ("file:///tmp/a+b%20c%25d.log",),   # input_file_name form
                ("/tmp/raw+path %file.log",),       # binaryFile raw form
                ("file:/tmp/x%2By.log",),           # single-slash variant
                ("hdfs://nn:9000/logs/app%202024.jsonl",),  # remote URI
            ],
            "p string",
        )
        got = [r["d"] for r in
               df.select(decode_file_uri_expr("p").alias("d")).collect()]
        assert got == [
            "/tmp/a+b c%d.log",        # %20→' ', %25→'%', '+' PRESERVED
            "/tmp/raw+path %file.log",  # raw: untouched
            "/tmp/x+y.log",             # %2B decodes to '+'
            # remote schemes decode but keep the scheme
            "hdfs://nn:9000/logs/app 2024.jsonl",
        ]

    def test_python_twin_and_scheme_strip(self):
        from clp_spark.sources.logfiles import (
            decode_file_uri,
            strip_file_scheme,
        )

        assert decode_file_uri("file:///a%20b+c.log") == "/a b+c.log"
        assert decode_file_uri("/raw %path+1.log") == "/raw %path+1.log"
        assert (decode_file_uri("hdfs://h/x%25y.log")
                == "hdfs://h/x%y.log")
        assert strip_file_scheme("file:/tmp/x") == "/tmp/x"
        assert strip_file_scheme("file:///tmp/x") == "/tmp/x"
        assert strip_file_scheme("hdfs://h/x") == "hdfs://h/x"
        assert strip_file_scheme("/tmp/x") == "/tmp/x"

    # a colon alone does not make a URI: only `file:` and `<scheme>://` do
    COLON_CASES = [
        ("data:1%41.log", "data:1%41.log"),
        ("C:/logs/a%41.log", "C:/logs/a%41.log"),
        ("/abs/p%41th", "/abs/p%41th"),
        ("file:/abs/p%41th", "/abs/pAth"),
        ("s3a://b/p%41th", "s3a://b/pAth"),
    ]

    def test_colon_paths_are_not_uris(self, spark):
        from clp_spark.sources.logfiles import (
            decode_file_uri,
            decode_file_uri_expr,
        )

        for raw, want in self.COLON_CASES:
            assert decode_file_uri(raw) == want, raw
        df = spark.createDataFrame([(r,) for r, _ in self.COLON_CASES], "p string")
        got = [r["d"] for r in df.select(decode_file_uri_expr("p").alias("d")).collect()]
        assert got == [w for _, w in self.COLON_CASES]


class TestTextLifecycle:
    def test_compress_extract_nasty_filename(self, spark, tmp_path, capsys):
        """`c` then `x` over a file whose name carries '+', '%', and a
        space — previously '+' silently corrupted the stored path."""
        from clp_spark import cli

        log = tmp_path / f"{NASTY}.log"
        body = "2024-01-01 00:00:01.000 job alpha took 1 ms\n" \
               "2024-01-01 00:00:02.000 job beta took 2 ms\n"
        log.write_text(body)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(log)])
        outdir = tmp_path / "out"
        cli.main(["x", arch, "-o", str(outdir)])
        outs = list(outdir.rglob("*.log"))
        assert len(outs) == 1
        # the reconstructed per-file path keeps the original name exactly
        assert outs[0].name == f"{NASTY}.log"
        assert outs[0].read_text() == body

    def test_multi_archive_split_routes_nasty_path(self, spark, tmp_path):
        """The archive-split planner joins encode rows back to input files
        on abs_path — a '+'-corrupted decode empties that join and drops
        the file's records."""
        from clp_spark.sources.logfiles import compress_text_logs_multi

        logs = []
        for i, name in enumerate([f"{NASTY}-0.log", "plain.log"]):
            p = tmp_path / name
            p.write_text(
                "".join(
                    f"2024-01-01 00:00:0{j}.000 row {i} {j}\n"
                    for j in range(3)
                )
            )
            logs.append(str(p))
        out = str(tmp_path / "arches")
        res = compress_text_logs_multi(
            spark, logs, out, target_archive_size=1
        )
        # every input row landed in some archive — nothing silently
        # dropped by a corrupted-path join
        assert res["messages"] == 6


class TestFilePathFlag:
    def test_file_path_matches_plain_spelling(self, spark, tmp_path, capsys):
        """`s --file-path` takes the user's PLAIN path; the archive stores
        the percent-encoded URI — the comparison must normalize encoding
        ('%20' ≡ ' ') or files with spaces become unreachable."""
        from clp_spark import cli

        log = tmp_path / f"{NASTY}.log"
        log.write_text(
            "2024-01-01 00:00:01.000 job alpha took 1 ms\n"
        )
        other = tmp_path / "other.log"
        other.write_text("2024-01-01 00:00:02.000 job alpha took 9 ms\n")
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(log), str(other)])
        capsys.readouterr()
        cli.main(["s", arch, "*alpha*", "--count",
                  "--file-path", str(log)])
        assert capsys.readouterr().out.strip() == "1"


class TestContainerRoutes:
    def test_zstd_container_nasty_filename(self, spark, tmp_path):
        """binaryFile container paths are raw: a literal '%' used to crash
        url_decode, '+' used to break the rank join in `c --json`."""
        from clp_spark.sources.logfiles import read_container_log_lines
        from clp_spark.sources.zstd_io import zstd_compress

        p = tmp_path / f"{NASTY}.log.zst"
        p.write_bytes(zstd_compress(b"one\ntwo\n"))
        df = read_container_log_lines(spark, [str(p)])
        rows = df.orderBy("line_no").collect()
        assert [r["line"] for r in rows] == ["one", "two"]
        # container = raw scheme-less path, joinable against os.path.abspath
        assert rows[0]["container"] == str(p)

    def test_kv_stream_nasty_filename_rank_join(self, spark, tmp_path):
        """kv-IR streams rank-join binaryFile paths against abspaths."""
        from clp_spark.sources.kv_ir import (
            events_to_kv_ir_df,
            read_kv_ir_stream_records,
        )

        jsonl = tmp_path / "src.jsonl"
        jsonl.write_text(
            '{"msg": "hello", "n": 1}\n{"msg": "world", "n": 2}\n'
        )
        df = (
            spark.read.option("multiLine", "false").json(str(jsonl))
            .withColumn("_stream", F.lit("s"))
            .withColumn("_rec_ix", F.monotonically_increasing_id())
        )
        chunk = events_to_kv_ir_df(
            df, stream_col="_stream", events_per_chunk=10,
            order_col="_rec_ix",
        ).collect()[0]
        p = tmp_path / f"{NASTY}.clp"
        p.write_bytes(bytes(chunk["ir"]))
        out = read_kv_ir_stream_records(spark, [str(p)])
        got = sorted(json.loads(r["raw"])["n"] for r in out.collect())
        assert got == [1, 2]  # join matched: records survived


class TestRangeIndexNames:
    def test_json_archive_filename_with_nasty_chars(self, spark, tmp_path):
        """The range index must record the ORIGINAL file name ('+', '%',
        space intact) so `$_filename` filters typed as plain paths match
        — a double-decoded or form-decoded name matches nothing."""
        from clp_spark import cli
        from clp_spark.operators.json_archive import search_json_archive

        src = tmp_path / f"{NASTY}.jsonl"
        src.write_text('{"msg": "alpha", "level": 1}\n')
        other = tmp_path / "plain.jsonl"
        other.write_text('{"msg": "beta", "level": 2}\n')
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(src), str(other), "--json"])
        with open(f"{arch}/manifest.json") as f:
            names = sorted(
                e["f"]["_filename"] for e in json.load(f)["range_index"]
            )
        assert names == sorted([str(src), str(other)])
        res = search_json_archive(
            spark, arch, f'$_filename: "{src}" AND msg: *'
        )
        got = [json.loads(r["json"])["msg"] for r in res.collect()]
        assert got == ["alpha"]


class TestReducerRetryGuard:
    def test_retried_attempt_refuses_to_send(self):
        from clp_spark.streaming.reducer import _guard_first_attempt

        _guard_first_attempt(0)
        _guard_first_attempt(None)
        with pytest.raises(RuntimeError, match="double-count"):
            _guard_first_attempt(1)


class TestSniffRobustness:
    def test_truncated_two_byte_preamble_is_not_kv(self):
        """A 7-byte head with the 0x12 two-byte-length marker but a
        missing second length byte classified with IndexError before."""
        from clp_spark.sources.ir_stream import MAGIC_8BYTE
        from clp_spark.sources.kv_ir import is_kv_ir_bytes

        head = MAGIC_8BYTE + bytes([0x01, 0x12, 0x00])
        assert is_kv_ir_bytes(head) is False

    def test_truncated_file_classifies_as_text(self, tmp_path):
        from clp_spark.sources.ir_stream import MAGIC_8BYTE
        from clp_spark.sources.logfiles import classify_log_input

        p = tmp_path / "trunc.bin"
        p.write_bytes(MAGIC_8BYTE + bytes([0x01, 0x12, 0x00]))
        assert classify_log_input(str(p)) in ("text", "ir")


class TestCliModeGuards:
    def test_stats_progress_rejected_in_json_mode(self, tmp_path):
        from clp_spark import cli

        src = tmp_path / "x.jsonl"
        src.write_text('{"a": 1}\n')
        with pytest.raises(SystemExit, match="print-archive-stats-progress"):
            cli.main(["c", str(tmp_path / "arch"), str(src), "--json",
                      "--print-archive-stats-progress"])
