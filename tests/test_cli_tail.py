"""CLI parity tail: --files-from, --compression {zstd,passthrough,lzma},
--target-segment-size, --target-dictionaries-size.

Reference: clp CommandLineArguments.cpp:61-65 (--files-from/-f, also
clp-s:382-387), :333-344 (--target-segment-size / --target-dictionaries-size
validation :411-418), streaming_archive/writer/Archive.cpp:581 (segment
closes at target uncompressed size), clp/clp/compression.cpp:128,156 (new
archive when dictionaries reach target), streaming_compression/
{zstd,passthrough,lzma}/ (codecs; parquet has no LZMA, so lzma errors).
"""

import glob
import json
import os

import pytest

from clp_spark import cli


def _mklogs(root, n_files=2, lines=30):
    paths = []
    for f in range(n_files):
        p = root / f"svc{f}.log"
        p.write_text(
            "".join(
                f"2024-03-0{f + 1} 10:00:{i % 60:02d} INFO f{f} job {i} "
                f"took {i * 7}ms\n"
                for i in range(lines)
            )
        )
        paths.append(str(p))
    return paths


class TestFilesFrom:
    def test_list_file_inputs(self, spark, tmp_path, capsys):
        paths = _mklogs(tmp_path)
        lst = tmp_path / "paths.txt"
        lst.write_text("\n".join(paths) + "\n\n")  # blank lines skipped
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, "-f", str(lst)])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["messages"] == 60

    def test_combines_with_positionals(self, spark, tmp_path, capsys):
        a, b = _mklogs(tmp_path)
        lst = tmp_path / "paths.txt"
        lst.write_text(b + "\n")
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, a, "--files-from", str(lst)])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["messages"] == 60

    def test_missing_list_file(self, tmp_path):
        with pytest.raises(SystemExit, match="does not exist"):
            cli.main(["c", str(tmp_path / "a"), "-f", str(tmp_path / "no")])

    def test_empty_list_file(self, tmp_path):
        lst = tmp_path / "empty.txt"
        lst.write_text("\n")
        with pytest.raises(SystemExit, match="did not contain any paths"):
            cli.main(["c", str(tmp_path / "a"), "-f", str(lst)])

    def test_no_inputs_at_all(self, tmp_path):
        with pytest.raises(SystemExit, match="No input paths"):
            cli.main(["c", str(tmp_path / "a")])


class TestCompressionCodec:
    def test_passthrough_text(self, spark, tmp_path, capsys):
        paths = _mklogs(tmp_path, n_files=1)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, paths[0], "--compression", "passthrough"])
        capsys.readouterr()
        import pyarrow.parquet as pq

        parts = glob.glob(f"{arch}/sinks/**/*.parquet", recursive=True)
        assert parts
        for p in parts:
            md = pq.ParquetFile(p).metadata
            assert md.row_group(0).column(0).compression == "UNCOMPRESSED"
        # restore the session default so later tests keep zstd
        spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
        cli.main(["x", arch])
        out = capsys.readouterr().out
        assert "job 3 took 21ms" in out

    def test_passthrough_json(self, spark, tmp_path, capsys):
        src = tmp_path / "x.jsonl"
        src.write_text('{"k": 1}\n{"k": 2}\n')
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(src), "--json",
                  "--compression", "passthrough"])
        capsys.readouterr()
        import pyarrow.parquet as pq

        parts = glob.glob(f"{arch}/schema_id=*/*.parquet")
        assert parts
        for p in parts:
            md = pq.ParquetFile(p).metadata
            assert md.row_group(0).column(0).compression == "UNCOMPRESSED"
        spark.conf.set("spark.sql.parquet.compression.codec", "zstd")

    def test_lzma_rejected(self, tmp_path):
        with pytest.raises(SystemExit, match="lzma"):
            cli.main(["c", str(tmp_path / "a"), "in.log",
                      "--compression", "lzma"])

    def test_passthrough_level_conflict(self, tmp_path):
        with pytest.raises(SystemExit, match="compression-level"):
            cli.main(["c", str(tmp_path / "a"), "in.log",
                      "--compression", "passthrough",
                      "--compression-level", "3"])


class TestTargetSegmentSize:
    def test_splits_sink_files(self, spark, tmp_path, capsys):
        paths = _mklogs(tmp_path, n_files=1, lines=60)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, paths[0], "--target-segment-size", "300"])
        capsys.readouterr()
        per_dir = glob.glob(f"{arch}/sinks/file_id=*/*.parquet")
        # ~32 encoded bytes/msg → ~9 rows per segment file → several files
        assert len(per_dir) > 2
        import pyarrow.parquet as pq

        rows = [pq.ParquetFile(p).metadata.num_rows for p in per_dir]
        assert max(rows) <= max(1, 300 // 24)  # cap honored
        cli.main(["x", arch])
        out = capsys.readouterr().out
        assert out.count("INFO f0 job") == 60  # extraction intact

    def test_zero_rejected(self, tmp_path):
        with pytest.raises(SystemExit, match="non-zero"):
            cli.main(["c", str(tmp_path / "a"), "in.log",
                      "--target-segment-size", "0"])


class TestTargetDictionariesSize:
    def test_splits_archives(self, spark, tmp_path, capsys):
        # distinct-heavy variables: each file contributes ~unique dict bytes
        paths = _mklogs(tmp_path, n_files=3, lines=20)
        out = str(tmp_path / "archs")
        cli.main(["c", out, *paths, "--target-dictionaries-size", "120"])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["archives"] >= 2
        assert summary["messages"] == 60
        # every produced archive is searchable; federated result intact
        cli.main(["s", out, "*job 7 took*", "--count"])
        assert capsys.readouterr().out.strip().splitlines()[-1] == "3"

    def test_zero_rejected(self, tmp_path):
        with pytest.raises(SystemExit, match="non-zero"):
            cli.main(["c", str(tmp_path / "a"), "in.log",
                      "--target-dictionaries-size", "0"])

    def test_json_mode_rejected(self, tmp_path):
        with pytest.raises(SystemExit, match="text archive"):
            cli.main(["c", str(tmp_path / "a"), "in.jsonl", "--json",
                      "--target-dictionaries-size", "100"])

    def test_dict_cut_composes_with_archive_size(self, spark, tmp_path,
                                                 capsys):
        paths = _mklogs(tmp_path, n_files=2, lines=20)
        out = str(tmp_path / "archs")
        # raw-size target huge; only the dictionary criterion can cut
        cli.main(["c", out, *paths, "--target-archive-size", str(1 << 40),
                  "--target-dictionaries-size", "100"])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["archives"] == 2


class TestPathFlagGuards:
    def test_normalize_paths_needs_json(self, tmp_path):
        with pytest.raises(SystemExit, match="clp-s"):
            cli.main(["c", str(tmp_path / "a"), "in.log",
                      "--normalize-paths"])

    def test_remove_leading_slash_needs_json(self, tmp_path):
        with pytest.raises(SystemExit, match="clp-s"):
            cli.main(["c", str(tmp_path / "a"), "in.log",
                      "--remove-leading-slash"])


class TestOutputMethodBinary:
    """`s --output-method {s,b}` (clg CommandLineArguments.cpp:67-74):
    'b' streams each result as the reference's little-endian framing —
    <u64 path-len><path bytes><i64 ts-ms><u64 logtype-id><u64 msg-len>
    <msg bytes> (clg.cpp:420-470 print_result_binary)."""

    @staticmethod
    def _decode(buf: bytes):
        import struct

        out = []
        off = 0
        while off < len(buf):
            (plen,) = struct.unpack_from("<Q", buf, off)
            off += 8
            path = buf[off:off + plen].decode()
            off += plen
            (ts,) = struct.unpack_from("<q", buf, off)
            off += 8
            (lt,) = struct.unpack_from("<Q", buf, off)
            off += 8
            (mlen,) = struct.unpack_from("<Q", buf, off)
            off += 8
            msg = buf[off:off + mlen].decode()
            off += mlen
            out.append((path, ts, lt, msg))
        assert off == len(buf), "trailing bytes after the last record"
        return out

    def test_single_archive_framing(self, spark, tmp_path, capsysbinary):
        paths = _mklogs(tmp_path, n_files=1, lines=8)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, *paths])
        capsysbinary.readouterr()
        cli.main(["s", arch, "*job 3 *"])
        text_lines = capsysbinary.readouterr().out.decode().splitlines()
        cli.main(["s", arch, "*job 3 *", "--output-method", "b"])
        recs = self._decode(capsysbinary.readouterr().out)
        # same matches, same rendered messages as the text method
        assert [m for (_p, _t, _l, m) in recs] == text_lines
        assert len(recs) == 1
        path, ts, lt, msg = recs[0]
        assert path.endswith("svc0.log")
        assert "job 3 took 21ms" in msg
        # ts field = the message's stored epoch-ms; logtype id is real
        sinks = spark.read.option("basePath", f"{arch}/sinks").parquet(
            f"{arch}/sinks"
        )
        row = sinks.where("msg_ix = 4").select("ts_ms", "logtype_id").collect()[0]
        assert ts == row["ts_ms"] > 0
        assert lt == row["logtype_id"]

    def test_federated_binary(self, spark, tmp_path, capsysbinary):
        paths = _mklogs(tmp_path)
        root = str(tmp_path / "archs")
        cli.main(["c", root, *paths, "--target-archive-size", "10"])
        capsysbinary.readouterr()
        cli.main(["s", root, "*job 3 *", "--output-method", "b"])
        recs = self._decode(capsysbinary.readouterr().out)
        assert len(recs) == 2
        assert {p.rsplit("/", 1)[-1] for p, _, _, _ in recs} == {
            "svc0.log", "svc1.log"
        }
        assert all(ts > 0 for _, ts, _, _ in recs)
        assert all("job 3 " in m for *_, m in recs)


class TestCompressionProgress:
    """`clp c --progress` (CommandLineArguments.cpp:355-357,
    compression.cpp:143-147) and `--print-archive-stats-progress`
    (Archive.cpp:247-248,703-709: {"id", "uncompressed_size", "size"}
    ndjson per archive at close)."""

    def test_progress_final_line(self, spark, tmp_path, capsys):
        paths = _mklogs(tmp_path)
        cli.main(["c", str(tmp_path / "arch"), *paths, "--progress"])
        assert "Compressed 2/2 files" in capsys.readouterr().err

    def test_stats_progress_single(self, spark, tmp_path, capsys):
        paths = _mklogs(tmp_path)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, *paths, "--print-archive-stats-progress"])
        lines = capsys.readouterr().out.strip().splitlines()
        stats = [json.loads(ln) for ln in lines[:-1]]
        assert len(stats) == 1
        with open(os.path.join(arch, "metadata.json")) as f:
            meta = json.load(f)
        assert stats[0]["id"] == "arch"
        assert stats[0]["uncompressed_size"] == meta["raw_bytes"] > 0
        assert stats[0]["size"] == meta["archive_bytes"] > 0

    def test_stats_progress_multi(self, spark, tmp_path, capsys):
        paths = _mklogs(tmp_path)
        root = str(tmp_path / "archs")
        cli.main(["c", root, *paths, "--target-archive-size", "10",
                  "--print-archive-stats-progress"])
        lines = capsys.readouterr().out.strip().splitlines()
        stats = [json.loads(ln) for ln in lines[:-1]]
        assert len(stats) >= 2  # one line per produced archive
        for s in stats:
            assert s["uncompressed_size"] > 0 and s["size"] > 0
            assert os.path.isdir(os.path.join(root, s["id"]))


class TestExtractIrTail:
    """clo i tail: --print-ir-stats ndjson (clo.cpp:229-234) and direct
    file-split-id addressing (CommandLineArguments.cpp:207-222)."""

    def test_print_ir_stats(self, spark, tmp_path, capsys):
        paths = _mklogs(tmp_path, n_files=1, lines=6)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, *paths])
        capsys.readouterr()
        out = str(tmp_path / "ir")
        cli.main(["i", arch, out, "--events-per-chunk", "2",
                  "--print-ir-stats"])
        lines = capsys.readouterr().out.strip().splitlines()
        summary = json.loads(lines[-1])
        stats = [json.loads(ln) for ln in lines[:-1]]
        assert len(stats) == summary["chunks"] >= 2
        for s in stats:
            assert list(s) == ["path"]
            assert os.path.exists(s["path"])

    def test_file_split_id_addressing(self, spark, tmp_path, capsys):
        from clp_spark.sinks.metadata_db import GlobalMetadataDB

        paths = _mklogs(tmp_path, n_files=1, lines=12)
        arch = str(tmp_path / "arch")
        db_path = str(tmp_path / "metadata.db")
        cli.main(["c", arch, *paths, "--target-encoded-file-size", "120",
                  "--metadata-db", db_path])
        capsys.readouterr()
        db = GlobalMetadataDB(db_path)
        rows = db.conn.execute(
            "SELECT id, begin_message_ix, num_messages FROM files "
            "ORDER BY begin_message_ix"
        ).fetchall()
        db.close()
        assert len(rows) >= 2 and all("#s" in r[0] for r in rows)
        split_id, begin, n = rows[-1]
        out = str(tmp_path / "ir")
        cli.main(["i", arch, out, "--file-split-id", split_id])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["events"] == n  # ONLY the addressed split extracts
        # one chunk, named with FILE-GLOBAL message indexes (split offset
        # comes from the archive's split index, clo.cpp:186-189 parity)
        names = sorted(x for x in os.listdir(out) if x.endswith(".clp"))
        assert names == [f"svc0.log_{begin}_{begin + n}.clp"]

    def test_file_split_id_conflicts(self, tmp_path):
        with pytest.raises(SystemExit, match="replaces"):
            cli.main(["i", str(tmp_path), str(tmp_path / "o"),
                      "--file-split-id", "a.log#s0", "--file-id", "a.log"])
        with pytest.raises(SystemExit, match="malformed"):
            cli.main(["i", str(tmp_path), str(tmp_path / "o"),
                      "--file-split-id", "a.log#sxx"])


class TestVersionAndConfigFile:
    """-V/--version and --config-file parity: boost config-file format,
    CLI-wins precedence, silent missing file, unrecognized keys allowed
    (clg/CommandLineArguments.cpp:34-43,148-192, clp/Defs.h .clp.rc)."""

    @pytest.fixture()
    def archive(self, spark, tmp_path, capsys):
        paths = _mklogs(tmp_path, n_files=1, lines=10)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, *paths])
        capsys.readouterr()
        return arch

    def test_version_prints_and_exits(self, capsys):
        from clp_spark import __version__

        with pytest.raises(SystemExit) as ei:
            cli.main(["-V"])
        assert ei.value.code == 0
        assert capsys.readouterr().err.strip() == __version__

    def test_config_sets_flag(self, archive, tmp_path, capsys):
        cfg = tmp_path / "clp.rc"
        cfg.write_text("# a comment\ncount = true\n")
        cli.main(["s", archive, "*job*", "--config-file", str(cfg)])
        assert capsys.readouterr().out.strip().splitlines()[-1] == "10"

    def test_cli_beats_config(self, archive, tmp_path, capsys):
        cfg = tmp_path / "clp.rc"
        cfg.write_text("limit = 1\n")
        cli.main(["s", archive, "*job*", "--config-file", str(cfg),
                  "--limit", "3"])
        out = [ln for ln in capsys.readouterr().out.splitlines() if ln]
        assert len(out) == 3  # the command line wins over the file

    def test_config_value_applies_when_cli_silent(self, archive, tmp_path,
                                                  capsys):
        cfg = tmp_path / "clp.rc"
        cfg.write_text("limit = 2\n")
        cli.main(["s", archive, "*job*", "--config-file", str(cfg)])
        out = [ln for ln in capsys.readouterr().out.splitlines() if ln]
        assert len(out) == 2

    def test_unknown_and_sectioned_keys_ignored(self, archive, tmp_path,
                                                capsys):
        cfg = tmp_path / "clp.rc"
        cfg.write_text(
            "some-other-binary-opt = zzz\n[db]\nhost = nowhere\n"
            "count = true\n"
        )
        cli.main(["s", archive, "*job*", "--config-file", str(cfg)])
        # [db] prefixes the later `count` key as db.count -> unmatched, so
        # plain message output, not a count
        out = capsys.readouterr().out
        assert "job 3" in out

    def test_false_value_leaves_default(self, archive, tmp_path, capsys):
        cfg = tmp_path / "clp.rc"
        cfg.write_text("count = false\n")
        cli.main(["s", archive, "*job 3*", "--config-file", str(cfg)])
        assert "job 3" in capsys.readouterr().out

    def test_missing_config_is_silent(self, archive, tmp_path, capsys):
        cli.main(["s", archive, "*job*", "--count",
                  "--config-file", str(tmp_path / "no-such.rc")])
        assert capsys.readouterr().out.strip().splitlines()[-1] == "10"


class TestMetadataDbOpts:
    """GlobalMetadataDBConfig option group: sqlite default ignores the
    mysql-only knobs; mysql validates env credentials then is refused
    honestly (GlobalMetadataDBConfig.cpp:114-160 + STATUS.md waiver)."""

    def test_sqlite_ignores_mysql_knobs(self, spark, tmp_path, capsys):
        paths = _mklogs(tmp_path, n_files=1, lines=5)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, *paths, "--db-type", "sqlite",
                  "--db-host", "nowhere.invalid", "--db-port", "1",
                  "--db-table-prefix", "zzz_"])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["messages"] == 5

    def test_mysql_requires_credentials(self, tmp_path, monkeypatch):
        monkeypatch.delenv("CLP_DB_USER", raising=False)
        monkeypatch.delenv("CLP_DB_PASS", raising=False)
        with pytest.raises(SystemExit, match="CLP_DB_USER"):
            cli.main(["s", str(tmp_path), "*", "--db-type", "mysql"])
        monkeypatch.setenv("CLP_DB_USER", "u")
        with pytest.raises(SystemExit, match="CLP_DB_PASS"):
            cli.main(["s", str(tmp_path), "*", "--db-type", "mysql"])
        monkeypatch.setenv("CLP_DB_PASS", "p")
        with pytest.raises(SystemExit, match="waiver"):
            cli.main(["s", str(tmp_path), "*", "--db-type", "mysql"])

    def test_mysql_port_range(self, tmp_path, monkeypatch):
        monkeypatch.setenv("CLP_DB_USER", "u")
        monkeypatch.setenv("CLP_DB_PASS", "p")
        with pytest.raises(SystemExit, match="range"):
            cli.main(["s", str(tmp_path), "*", "--db-type", "mysql",
                      "--db-port", "0"])


class TestDbConfigFile:
    """glt `--db-config-file` YAML flavor
    (glt/GlobalMetadataDBConfig.cpp:22-108): `type: sqlite` runs; the
    mysql flavor validates the reference's required keys then hits the
    same honest refusal as --db-type=mysql."""

    def test_sqlite_config_runs(self, spark, tmp_path, capsys):
        cfg = tmp_path / "db.yaml"
        cfg.write_text("type: sqlite\n")
        paths = _mklogs(tmp_path, n_files=1, lines=4)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, *paths, "--db-config-file", str(cfg)])
        summary = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )
        assert summary["messages"] == 4

    def test_missing_type_key(self, tmp_path):
        cfg = tmp_path / "db.yaml"
        cfg.write_text("host: h\n")
        with pytest.raises(SystemExit, match="Missing key 'type'"):
            cli.main(["s", str(tmp_path), "*",
                      "--db-config-file", str(cfg)])

    def test_unknown_type(self, tmp_path):
        cfg = tmp_path / "db.yaml"
        cfg.write_text("type: postgres\n")
        with pytest.raises(SystemExit, match="Unknown type"):
            cli.main(["s", str(tmp_path), "*",
                      "--db-config-file", str(cfg)])

    def test_invalid_yaml_errors_cleanly(self, tmp_path):
        cfg = tmp_path / "db.yaml"
        cfg.write_text("type: [unclosed\n")
        with pytest.raises(SystemExit, match="invalid YAML"):
            cli.main(["s", str(tmp_path), "*",
                      "--db-config-file", str(cfg)])

    def test_mysql_missing_and_invalid_keys(self, tmp_path, monkeypatch):
        cfg = tmp_path / "db.yaml"
        cfg.write_text("type: mysql\nhost: h\n")
        with pytest.raises(SystemExit, match="Missing key 'port'"):
            cli.main(["s", str(tmp_path), "*",
                      "--db-config-file", str(cfg)])
        cfg.write_text(
            "type: mysql\nhost: h\nport: -1\nname: n\n"
            "username: u\npassword: p\ntable_prefix: clp_\n"
        )
        with pytest.raises(SystemExit, match="cannot be negative"):
            cli.main(["s", str(tmp_path), "*",
                      "--db-config-file", str(cfg)])
        cfg.write_text(
            "type: mysql\nhost: ''\nport: 3306\nname: n\n"
            "username: u\npassword: p\ntable_prefix: clp_\n"
        )
        with pytest.raises(SystemExit, match="'host' not specified"):
            cli.main(["s", str(tmp_path), "*",
                      "--db-config-file", str(cfg)])

    def test_mysql_valid_config_reaches_waiver(self, tmp_path, monkeypatch):
        monkeypatch.delenv("CLP_DB_USER", raising=False)
        monkeypatch.delenv("CLP_DB_PASS", raising=False)
        cfg = tmp_path / "db.yaml"
        cfg.write_text(
            "type: mysql\nhost: h\nport: 3306\nname: n\n"
            "username: u\npassword: p\ntable_prefix: clp_\n"
        )
        # credentials come from the YAML (unlike --db-type's env flow),
        # so validation passes straight through to the honest refusal
        with pytest.raises(SystemExit, match="waiver"):
            cli.main(["s", str(tmp_path), "*",
                      "--db-config-file", str(cfg)])


class TestNetworkOutputHandler:
    """clo's network output handler: each matched message streams to a TCP
    destination as one msgpack tuple (ts_ms, message, orig_file_path,
    orig_file_id, log_event_ix) — clo/OutputHandler.cpp:20-44. Driven
    against an in-test loopback server; no external service."""

    def _recv_all(self, server_sock):
        conn, _ = server_sock.accept()
        buf = b""
        with conn:
            while True:
                chunk = conn.recv(65536)
                if not chunk:
                    break
                buf += chunk
        return buf

    def test_results_stream_as_msgpack_tuples(self, spark, tmp_path, capsys):
        import socket
        import threading

        from clp_spark.sinks.single_file_archive import _unpack_from

        paths = _mklogs(tmp_path, n_files=1, lines=6)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, *paths])
        capsys.readouterr()

        srv = socket.create_server(("127.0.0.1", 0))
        port = srv.getsockname()[1]
        got = {}
        t = threading.Thread(target=lambda: got.update(b=self._recv_all(srv)))
        t.start()
        cli.main(["s", arch, "*job 3*", "--output-handler", "network",
                  "--host", "127.0.0.1", "--port", str(port)])
        t.join(timeout=30)
        srv.close()
        assert not t.is_alive()
        buf, pos, tuples = got["b"], 0, []
        while pos < len(buf):
            obj, pos = _unpack_from(buf, pos)
            tuples.append(obj)
        assert len(tuples) == 1
        ts, msg, path, fid, ix = tuples[0]
        assert "job 3" in msg
        assert path.endswith("svc0.log") and fid
        assert isinstance(ts, int) and isinstance(ix, int)
        # nothing goes to stdout in network mode
        assert "job 3" not in capsys.readouterr().out

    def test_network_needs_host_and_port(self, tmp_path):
        with pytest.raises(SystemExit, match="--host"):
            cli.main(["s", str(tmp_path), "*", "--output-handler", "network"])

    def test_network_excludes_count(self, tmp_path):
        with pytest.raises(SystemExit, match="cannot combine"):
            cli.main(["s", str(tmp_path), "*", "--output-handler", "network",
                      "--host", "h", "--port", "9", "--count"])


class TestClpSOutputHandlers:
    """clp-s file/network output handlers for s-kql: one msgpack tuple
    (timestamp, message, "", archive_id, log_event_idx) per result
    (OutputHandlerImpl.cpp:31-72; the path slot is a placeholder in the
    reference too)."""

    @pytest.fixture()
    def archive(self, spark, tmp_path, capsys):
        src = tmp_path / "logs.jsonl"
        src.write_text(
            "".join(
                json.dumps({"ts": 1700000000000 + i, "lvl": "INFO",
                            "n": i}) + "\n"
                for i in range(5)
            )
        )
        arch = str(tmp_path / "jarch")
        cli.main(["c", arch, str(src), "--json", "--timestamp-key", "ts"])
        capsys.readouterr()
        return arch

    def _decode_stream(self, buf):
        from clp_spark.sinks.single_file_archive import _unpack_from

        pos, out = 0, []
        while pos < len(buf):
            obj, pos = _unpack_from(buf, pos)
            out.append(obj)
        return out

    def test_file_handler_writes_tuples(self, archive, tmp_path, capsys):
        dest = tmp_path / "results.bin"
        cli.main(["s-kql", archive, "n >= 3", "--output-handler", "file",
                  "--path", str(dest)])
        assert capsys.readouterr().out == ""  # nothing on stdout
        tuples = self._decode_stream(dest.read_bytes())
        assert len(tuples) == 2
        by_n = sorted(tuples, key=lambda t: json.loads(t[1])["n"])
        ts, msg, path, aid, ix = by_n[0]
        assert json.loads(msg)["n"] == 3
        assert ts == 1700000000003  # timestamp-key value rides the tuple
        assert path == "" and aid == "jarch"
        assert isinstance(ix, int)

    def test_file_handler_archive_id_is_the_dir_name(
        self, spark, tmp_path, capsys
    ):
        """A member whose name percent-encodes in a file URI keeps its own
        name in the archive-id slot, searched alone or in its fleet."""
        src = tmp_path / "in.jsonl"
        src.write_text('{"n": 1}\n')
        root = tmp_path / "fleet"
        for name in ("plain", "a b%1"):
            cli.main(["c", str(root / name), str(src), "--json"])
        capsys.readouterr()
        dest = tmp_path / "results.bin"
        for target in (root, root / "a b%1"):
            cli.main(["s-kql", str(target), "n: 1", "--output-handler",
                      "file", "--path", str(dest)])
            aids = sorted(t[3] for t in self._decode_stream(dest.read_bytes()))
            assert aids == (["a b%1", "plain"] if target == root
                            else ["a b%1"])

    def test_network_handler(self, archive, tmp_path, capsys):
        import socket
        import threading

        srv = socket.create_server(("127.0.0.1", 0))
        port = srv.getsockname()[1]
        got = {}

        def recv():
            conn, _ = srv.accept()
            b = b""
            with conn:
                while (ch := conn.recv(65536)):
                    b += ch
            got["b"] = b

        t = threading.Thread(target=recv)
        t.start()
        cli.main(["s-kql", archive, "lvl: INFO", "--output-handler",
                  "network", "--host", "127.0.0.1", "--port", str(port)])
        t.join(timeout=30)
        srv.close()
        tuples = self._decode_stream(got["b"])
        assert len(tuples) == 5
        assert {json.loads(t[1])["n"] for t in tuples} == set(range(5))

    def test_handler_excludes_aggregates(self, tmp_path):
        with pytest.raises(SystemExit, match="aggregation"):
            cli.main(["s-kql", str(tmp_path), "*", "--output-handler",
                      "file", "--path", "x", "--count"])

    def test_file_handler_needs_path(self, tmp_path):
        with pytest.raises(SystemExit, match="--path"):
            cli.main(["s-kql", str(tmp_path), "*", "--output-handler",
                      "file"])


class TestImplicitWildcardsAndQueryFile:
    """clg/clo query handling: implicit '*' wrapping on every wildcard
    string (clg.cpp:505-506, clo.cpp:505) and `s -f FILE` multi-query OR
    (clg.cpp:510-521 + search_files: one emission per matching message)."""

    @pytest.fixture()
    def archive(self, spark, tmp_path, capsys):
        p = tmp_path / "app.log"
        p.write_text(
            "2024-03-01 10:00:01 INFO job alpha took 7ms\n"
            "2024-03-01 10:00:02 INFO job beta took 9ms\n"
            "2024-03-01 10:00:03 ERROR task gamma failed\n"
        )
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(p)])
        capsys.readouterr()
        return arch

    def test_bare_query_is_substring_match(self, archive, capsys):
        cli.main(["s", archive, "job", "--count"])
        assert capsys.readouterr().out.strip().splitlines()[-1] == "2"

    def test_starred_query_unchanged(self, archive, capsys):
        cli.main(["s", archive, "*job*", "--count"])
        assert capsys.readouterr().out.strip().splitlines()[-1] == "2"

    def test_query_file_ors_and_dedups(self, archive, tmp_path, capsys):
        qf = tmp_path / "qs.txt"
        # 'job' matches two, 'took' matches the same two (dedup), 'gamma'
        # matches the third — 3 distinct messages total
        qf.write_text("job\n\ntook\ngamma\n")
        cli.main(["s", archive, "-f", str(qf), "--count"])
        assert capsys.readouterr().out.strip().splitlines()[-1] == "3"

    def test_query_file_excludes_positional(self, archive, tmp_path):
        qf = tmp_path / "qs.txt"
        qf.write_text("job\n")
        with pytest.raises(SystemExit, match="mutually exclusive"):
            cli.main(["s", archive, "job", "-f", str(qf)])

    def test_no_query_at_all(self, archive):
        with pytest.raises(SystemExit, match="no wildcard string"):
            cli.main(["s", archive])

    def test_empty_query_file(self, archive, tmp_path):
        qf = tmp_path / "qs.txt"
        qf.write_text("\n\n")
        with pytest.raises(SystemExit, match="did not contain"):
            cli.main(["s", archive, "-f", str(qf)])


class TestExtractPaths:
    """clp x's trailing path positionals (CommandLineArguments.cpp:166-176):
    extract only the named original files; several may be given."""

    def test_subset_extraction(self, spark, tmp_path, capsys):
        paths = _mklogs(tmp_path, n_files=3, lines=4)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, *paths])
        capsys.readouterr()
        out = str(tmp_path / "out")
        cli.main(["x", arch, paths[0], paths[2], "-o", out])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["files"] == 2  # two of the three files
        names = sorted(
            n for n in os.listdir(out) if not n.startswith("_")
        )
        assert names == ["svc0.log", "svc2.log"]
        text = open(os.path.join(out, "svc2.log")).read()
        assert text.count("\n") == 4 and "f2" in text

    def test_stdout_subset(self, spark, tmp_path, capsys):
        paths = _mklogs(tmp_path, n_files=2, lines=3)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, *paths])
        capsys.readouterr()
        cli.main(["x", arch, paths[1]])
        out = capsys.readouterr().out
        assert "f1" in out and "f0" not in out

    def test_json_archive_rejects_paths(self, spark, tmp_path, capsys):
        src = tmp_path / "l.jsonl"
        src.write_text('{"a": 1}\n')
        arch = str(tmp_path / "jarch")
        cli.main(["c", arch, str(src), "--json"])
        capsys.readouterr()
        with pytest.raises(SystemExit, match="text-log"):
            cli.main(["x", arch, "some/path", "-o", str(tmp_path / "o")])


class TestTextSearchMaxNumResults:
    """clo -m over text archives: latest-N by per-message timestamp."""

    def test_latest_two(self, spark, tmp_path, capsys):
        p = tmp_path / "a.log"
        p.write_text(
            "2024-03-01 10:00:01 INFO job one\n"
            "2024-03-01 10:00:02 INFO job two\n"
            "2024-03-01 10:00:03 INFO job three\n"
        )
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(p)])
        capsys.readouterr()
        cli.main(["s", arch, "job", "-m", "2"])
        out = capsys.readouterr().out
        assert "three" in out and "two" in out and "one" not in out


class TestExtractArchiveId:
    """clp-s x --archive-id (CommandLineArguments.cpp:605-608): limit
    decompression to one archive subdirectory."""

    def test_single_archive_extracted(self, spark, tmp_path, capsys):
        src = tmp_path / "l.jsonl"
        src.write_text(
            "".join(json.dumps({"n": i}) + "\n" for i in range(40))
        )
        out = str(tmp_path / "archs")
        cli.main(["c", out, str(src), "--json",
                  "--target-encoded-size", "200"])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["archives"] >= 2
        aid = os.path.basename(
            os.path.normpath(summary["per_archive"][0]["dir"])
        )
        dest = str(tmp_path / "x")
        cli.main(["x", out, "-o", dest, "--archive-id", aid])
        s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert s2["archives"] == 1
        assert s2["rows"] == summary["per_archive"][0]["rows"]

    def test_unknown_id(self, spark, tmp_path, capsys):
        src = tmp_path / "l.jsonl"
        src.write_text(
            "".join(json.dumps({"n": i}) + "\n" for i in range(40))
        )
        out = str(tmp_path / "archs")
        cli.main(["c", out, str(src), "--json",
                  "--target-encoded-size", "200"])
        capsys.readouterr()
        with pytest.raises(SystemExit, match="no archive with ID"):
            cli.main(["x", out, "-o", str(tmp_path / "o"),
                      "--archive-id", "zzz"])

    def test_single_archive_input_rejected(self, spark, tmp_path, capsys):
        src = tmp_path / "l.jsonl"
        src.write_text('{"n": 1}\n')
        out = str(tmp_path / "arch")
        cli.main(["c", out, str(src), "--json"])
        capsys.readouterr()
        with pytest.raises(SystemExit, match="directory of JSON"):
            cli.main(["x", out, "-o", str(tmp_path / "o"),
                      "--archive-id", "zzz"])


class TestTimestampKeyValidation:
    """JsonParser.cpp:167-171: wildcard timestamp keys are rejected at
    startup; escaped wildcards are literal key characters."""

    def test_wildcard_rejected(self, tmp_path):
        with pytest.raises(SystemExit, match="can not contain wildcards"):
            cli.main(["c", str(tmp_path / "a"), "in.jsonl", "--json",
                      "--timestamp-key", "ts*"])
        with pytest.raises(SystemExit, match="wildcards"):
            cli.main(["c", str(tmp_path / "a"), "in.jsonl", "--json",
                      "--timestamp-key", "a.b?"])

    def test_escaped_wildcard_ok(self, spark, tmp_path, capsys):
        src = tmp_path / "l.jsonl"
        src.write_text('{"t*s": 5, "m": "x"}\n')
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(src), "--json",
                  "--timestamp-key", r"t\*s"])
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["rows"] == 1


class TestKvIrStreamSearch:
    """clp-s `s` over RAW kv-IR stream files (clp-s.cpp:499-516 routes
    IR-file inputs to search_kv_ir_stream): matching events emit as
    reconstructed JSON records; aggregations beyond --count are rejected
    like the reference."""

    @pytest.fixture()
    def stream_dir(self, spark, tmp_path, capsys):
        src = tmp_path / "logs.jsonl"
        src.write_text(
            "".join(
                json.dumps({"lvl": "ERROR" if i % 3 == 0 else "INFO",
                            "n": i}) + "\n"
                for i in range(9)
            )
        )
        out = str(tmp_path / "kvout")
        cli.main(["kv-import", out, str(src)])
        capsys.readouterr()
        # export the parquet chunk rows to raw .clp stream files
        import pyarrow.parquet as pq

        from clp_spark.sources.kv_ir import is_kv_ir_file

        tbl = pq.read_table(out)
        raw = str(tmp_path / "streams")
        os.makedirs(raw)
        for i, b in enumerate(tbl.column("ir").to_pylist()):
            with open(os.path.join(raw, f"s{i}.clp"), "wb") as f:
                f.write(b)
        assert all(
            is_kv_ir_file(os.path.join(raw, x)) for x in os.listdir(raw)
        )
        return raw

    def test_search_matches(self, stream_dir, capsys):
        cli.main(["s-kql", stream_dir, "lvl: ERROR"])
        out = [json.loads(ln)
               for ln in capsys.readouterr().out.strip().splitlines()]
        assert sorted(r["n"] for r in out) == [0, 3, 6]

    def test_count(self, stream_dir, capsys):
        cli.main(["s-kql", stream_dir, "lvl: INFO", "--count"])
        assert capsys.readouterr().out.strip().splitlines()[-1] == "6"

    def test_aggregates_rejected(self, stream_dir):
        with pytest.raises(SystemExit, match="kv-IR"):
            cli.main(["s-kql", stream_dir, "*", "--min", "n"])
