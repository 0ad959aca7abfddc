"""Reducer protocol tests: framing goldens, CountOperator merge semantics,
the full scheduler/worker lifecycle over real sockets, and the Spark-side
per-partition partial senders (reference components/core/src/reducer/ +
clo/OutputHandler.cpp:160-192 + clp_s/OutputHandlerImpl.cpp:181-214)."""
from __future__ import annotations

import json
import socket
import struct
import threading
import time

import pytest

from clp_spark.sinks.single_file_archive import msgpack_pack, msgpack_unpack
from clp_spark.streaming.reducer import (
    CountOperator,
    RecordGroupStreamParser,
    ReducerServer,
    ResultsCache,
    connect_to_reducer,
    frame_record_groups,
    send_pipeline_results,
    serialize_record_group,
    trunc_bucket,
)


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        assert chunk, "peer closed early"
        buf += chunk
    return bytes(buf)


# ---------------------------------------------------------------------------
# Wire format
# ---------------------------------------------------------------------------

class TestWireFormat:
    def test_record_group_golden_bytes(self):
        """Byte-exact frame for one count-by-time group: u64 LE size prefix
        + msgpack {"group_tags": ["100"], "records": [{"count": 2}]}
        (network_utils.cpp:63-75 framing, DeserializedRecordGroup keys)."""
        payload = serialize_record_group(("100",), [{"count": 2}])
        # hand-assembled msgpack: fixmap{2} "group_tags" fixarray["100"]
        # "records" fixarray[fixmap{"count": 2}]
        expected = bytes(
            [0x82,
             0xAA] + list(b"group_tags") + [0x91, 0xA3] + list(b"100")
            + [0xA7] + list(b"records")
            + [0x91, 0x81, 0xA5] + list(b"count") + [0x02]
        )
        assert payload == expected
        framed = frame_record_groups([(("100",), [{"count": 2}])])
        assert framed == struct.pack("<Q", len(payload)) + payload

    def test_parser_reassembles_split_frames(self):
        groups = [
            (("1000",), [{"count": 3}]),
            (("2000",), [{"count": 1}]),
            ((), [{"count": 7}]),
        ]
        stream = frame_record_groups(groups)
        parser = RecordGroupStreamParser()
        out = []
        # feed one byte at a time: every frame boundary case is exercised
        for i in range(len(stream)):
            out.extend(parser.feed(stream[i:i + 1]))
        assert out == groups

    def test_parser_rejects_oversized_group(self):
        parser = RecordGroupStreamParser()
        with pytest.raises(ValueError, match="too large"):
            parser.feed(struct.pack("<Q", 16 * 1024 * 1024))

    def test_roundtrip_through_repo_msgpack(self):
        payload = serialize_record_group(("a", "b"), [{"count": 5}])
        obj = msgpack_unpack(payload)
        assert obj == {"group_tags": ["a", "b"],
                       "records": [{"count": 5}]}


# ---------------------------------------------------------------------------
# Merge pipeline semantics
# ---------------------------------------------------------------------------

class TestCountOperator:
    def test_intra_stage_sums_partial_counts(self):
        """Server-side input: records carry partials, sum them
        (CountOperator.cpp:4-13)."""
        op = CountOperator()
        op.push_intra_stage(("100",), [{"count": 2}])
        op.push_intra_stage(("100",), [{"count": 3}, {"count": 4}])
        op.push_intra_stage(("200",), [{"count": 1}])
        assert dict(op.group_count) == {("100",): 9, ("200",): 1}

    def test_inter_stage_counts_records(self):
        """Worker-side input: one increment per raw record
        (CountOperator.cpp:15-23)."""
        op = CountOperator()
        op.push_inter_stage((), [{}, {}, {}])
        op.push_inter_stage((), [{}])
        assert dict(op.group_count) == {(): 4}

    def test_empty_record_list_still_creates_group(self):
        # the reference's operator[] creates the entry before iterating
        op = CountOperator()
        op.push_intra_stage(("5",), [])
        assert dict(op.group_count) == {("5",): 0}

    def test_result_groups_ordered_like_std_map(self):
        op = CountOperator()
        for t in ("b", "a", "c"):
            op.push_intra_stage((t,), [{"count": 1}])
        assert [t for t, _ in op.result_groups()] == [("a",), ("b",), ("c",)]


# ---------------------------------------------------------------------------
# Bucket math parity
# ---------------------------------------------------------------------------

class TestTruncBucket:
    def test_cpp_truncating_division(self):
        """(ts / B) * B with C++ truncation-toward-zero
        (clo/OutputHandler.hpp:271-272) — negative epochs diverge from
        numpy's floor division and must match the C++ rule."""
        import numpy as np

        ts = np.array([-2500, -2000, -1, 0, 1, 999, 1000, 2500],
                      dtype=np.int64)
        got = trunc_bucket(ts, 1000).tolist()
        cpp = [int(t / 1000) * 1000 if t >= 0 else -((-t) // 1000) * 1000
               for t in ts.tolist()]
        assert got == cpp == [-2000, -2000, 0, 0, 0, 0, 1000, 2000]

    def test_matches_spark_count_by_time(self, spark):
        """The numpy partial path and the Spark count_by_time operator
        bucket identically, negative epochs included."""
        import numpy as np
        from pyspark.sql import functions as F

        from clp_spark.operators.aggregate import count_by_time

        vals = [-7501, -7500, -1, 0, 1, 7499, 7500, 15000, -15001]
        df = spark.createDataFrame([(v,) for v in vals], "ts_ms long")
        spark_rows = {
            r["bucket_ts"]: r["cnt"]
            for r in count_by_time(df, F.col("ts_ms"), 7500).collect()
        }
        buckets, counts = np.unique(
            trunc_bucket(np.array(vals, dtype=np.int64), 7500),
            return_counts=True,
        )
        assert dict(zip(buckets.tolist(), counts.tolist())) == spark_rows


# ---------------------------------------------------------------------------
# Full lifecycle over real sockets
# ---------------------------------------------------------------------------

class FakeScheduler:
    """Plays the query scheduler's side of the protocol
    (ServerContext.cpp:89-132 + reducer_server.cpp
    SchedulerUpdateListenerTask)."""

    def __init__(self):
        self.listener = socket.create_server(("127.0.0.1", 0))
        self.port = self.listener.getsockname()[1]
        self.conn: socket.socket | None = None
        self.advertisement = None

    def accept_and_configure(self, job_id: int, bucket_ms: int | None = None):
        self.conn, _ = self.listener.accept()
        (size,) = struct.unpack("<Q", _recv_exact(self.conn, 8))
        self.advertisement = msgpack_unpack(_recv_exact(self.conn, size))
        cfg: dict = {"job_id": job_id}
        if bucket_ms is not None:
            cfg["count_by_time_bucket_size"] = bucket_ms
        body = msgpack_pack(cfg)
        self.conn.sendall(struct.pack("<Q", len(body)) + body)
        assert _recv_exact(self.conn, 1) == b"y"  # pipeline-ready ack

    def send_all_results_sent(self):
        body = msgpack_pack({"message": "all results sent"})
        assert self.conn is not None
        self.conn.sendall(struct.pack("<Q", len(body)) + body)

    def wait_final_ack(self):
        assert self.conn is not None
        assert _recv_exact(self.conn, 1) == b"y"

    def close(self):
        if self.conn is not None:
            self.conn.close()
        self.listener.close()


def _run_job(tmp_path, job_id, bucket_ms, drive, upsert_interval_ms=20):
    """Spin up scheduler + reducer, run `drive(server)` while the job is
    live, complete the lifecycle, and return the results cache."""
    cache = ResultsCache(str(tmp_path / "results.db"))
    sched = FakeScheduler()
    server = ReducerServer(cache, upsert_interval_ms=upsert_interval_ms)
    t = threading.Thread(
        target=server.serve_one_job, args=("127.0.0.1", sched.port),
        daemon=True,
    )
    t.start()
    try:
        sched.accept_and_configure(job_id, bucket_ms)
        drive(server)
        sched.send_all_results_sent()
        sched.wait_final_ack()
        t.join(timeout=30)
        assert not t.is_alive()
        assert server.done.is_set() and not server.failed
    finally:
        server.close()
        sched.close()
    return cache


def _wait_for_total(server: ReducerServer, expected: int, timeout=10.0):
    """Workers' sends are async to the server's receive threads; wait for
    the merged total before the scheduler declares the job complete (the
    real scheduler waits on worker task completion the same way)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        with server._lock:
            if sum(server._pipeline.group_count.values()) >= expected:
                return
        time.sleep(0.01)
    raise AssertionError("reducer never received the expected total")


class TestLifecycle:
    def test_count_job_merges_worker_partials(self, tmp_path):
        def drive(server):
            for partial in (3, 4):
                sock = connect_to_reducer(
                    "127.0.0.1", server.reducer_port, 42
                )
                assert sock is not None
                assert send_pipeline_results(
                    sock, [((), [{"count": partial}])]
                )
                sock.close()
            _wait_for_total(server, 7)

        cache = _run_job(tmp_path, 42, None, drive)
        docs = cache.read_documents(42)
        assert docs == [{"group_tags": [], "records": [{"count": 7}]}]

    def test_timeline_job_upserts_by_timestamp(self, tmp_path):
        def drive(server):
            # worker 1: buckets 0 and 1000; worker 2 updates bucket 1000
            s1 = connect_to_reducer("127.0.0.1", server.reducer_port, 7)
            send_pipeline_results(
                s1, [(("0",), [{"count": 2}]), (("1000",), [{"count": 1}])]
            )
            s1.close()
            _wait_for_total(server, 3)
            time.sleep(0.1)  # let a periodic upsert tick fire
            s2 = connect_to_reducer("127.0.0.1", server.reducer_port, 7)
            send_pipeline_results(s2, [(("1000",), [{"count": 4}])])
            s2.close()
            _wait_for_total(server, 7)

        cache = _run_job(tmp_path, 7, 1000, drive)
        # second worker's bucket-1000 partial REPLACED the first upsert
        assert cache.read_timeline(7) == [(0, 2), (1000, 5)]

    def test_wrong_job_id_rejected_without_accept_byte(self, tmp_path):
        def drive(server):
            sock = connect_to_reducer(
                "127.0.0.1", server.reducer_port, 999
            )
            assert sock is None  # no 'y', connection closed
            ok = connect_to_reducer("127.0.0.1", server.reducer_port, 11)
            assert ok is not None
            send_pipeline_results(ok, [((), [{"count": 1}])])
            ok.close()
            _wait_for_total(server, 1)

        cache = _run_job(tmp_path, 11, None, drive)
        assert cache.read_documents(11) == [
            {"group_tags": [], "records": [{"count": 1}]}
        ]

    def test_zero_match_workers_publish_nothing(self, tmp_path):
        def drive(server):
            # a zero-result worker connects and sends no groups (clo's
            # empty inter-stage pipeline flushes an empty map)
            sock = connect_to_reducer("127.0.0.1", server.reducer_port, 3)
            assert send_pipeline_results(sock, [])
            sock.close()

        cache = _run_job(tmp_path, 3, None, drive)
        assert cache.read_documents(3) == []


class TestServerLoop:
    def test_two_jobs_in_sequence_rebind_port(self, tmp_path):
        """The reducer_server main loop serves a job, resets, and
        re-registers for the next (reducer_server.cpp main) — the
        listener port must rebind cleanly between jobs."""
        from clp_spark import cli

        db = str(tmp_path / "loop.db")
        sched = FakeScheduler()
        rc = {}

        def run_cli():
            try:
                cli.main([
                    "reducer-server", "--results-db", db,
                    "--reducer-port", "0",
                    "--scheduler-port", str(sched.port),
                ])
            except SystemExit as e:
                rc["code"] = e.code

        t = threading.Thread(target=run_cli, daemon=True)
        t.start()
        try:
            for job_id, count in ((71, 4), (72, 9)):
                sched.accept_and_configure(job_id, None)
                port = sched.advertisement["port"]
                sock = connect_to_reducer("127.0.0.1", port, job_id)
                assert sock is not None
                send_pipeline_results(sock, [((), [{"count": count}])])
                sock.close()
                sched.send_all_results_sent()
                sched.wait_final_ack()
                sched.conn.close()
            cache = ResultsCache(db)
            assert cache.read_documents(71) == [
                {"group_tags": [], "records": [{"count": 4}]}
            ]
            assert cache.read_documents(72) == [
                {"group_tags": [], "records": [{"count": 9}]}
            ]
        finally:
            sched.close()

    def test_malformed_job_does_not_stop_the_loop(self, tmp_path):
        """A malformed job config fails that job only; the loop registers
        again and serves the next job to the results cache."""
        from clp_spark import cli

        db = str(tmp_path / "loop.db")
        sched = FakeScheduler()
        sched.listener.settimeout(30.0)
        rc = {}

        def run_cli():
            try:
                cli.main([
                    "reducer-server", "--results-db", db,
                    "--reducer-port", "0",
                    "--scheduler-port", str(sched.port),
                ])
            except SystemExit as e:
                rc["code"] = e.code

        t = threading.Thread(target=run_cli, daemon=True)
        t.start()
        try:
            bad, _ = sched.listener.accept()
            (size,) = struct.unpack("<Q", _recv_exact(bad, 8))
            _recv_exact(bad, size)
            body = msgpack_pack({"job_id": -1})
            bad.sendall(struct.pack("<Q", len(body)) + body)
            bad.settimeout(30.0)
            assert bad.recv(1) == b""  # job refused without the ready ack
            bad.close()

            sched.accept_and_configure(73, None)
            sock = connect_to_reducer(
                "127.0.0.1", sched.advertisement["port"], 73
            )
            assert sock is not None
            send_pipeline_results(sock, [((), [{"count": 5}])])
            sock.close()
            sched.send_all_results_sent()
            sched.wait_final_ack()
            assert ResultsCache(db).read_documents(73) == [
                {"group_tags": [], "records": [{"count": 5}]}
            ]
            assert "code" not in rc
        finally:
            sched.close()


class TestTruncBucketExtremes:
    def test_int64_extremes_no_overflow(self):
        import numpy as np

        big = 2**62
        ts = np.array([big, -big, 2**63 - 1, -(2**63) + 1000],
                      dtype=np.int64)
        got = trunc_bucket(ts, 1000).tolist()
        # C++ truncating division at the extremes
        exp = []
        for t in ts.tolist():
            q = abs(t) // 1000
            exp.append((q if t >= 0 else -q) * 1000)
        assert got == exp


class TestParserFuzz:
    def test_roundtrip_any_groups_any_chunking(self):
        """Property: any record-group list framed then fed in arbitrary
        chunk sizes parses back exactly."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        tags_st = st.lists(
            st.text(
                alphabet=st.characters(codec="utf-8",
                                       blacklist_categories=("Cs",)),
                max_size=8,
            ),
            max_size=3,
        )
        group_st = st.tuples(
            tags_st,
            st.lists(
                st.fixed_dictionaries(
                    {"count": st.integers(0, 2**40)}
                ),
                max_size=4,
            ),
        )

        @settings(max_examples=60, deadline=None)
        @given(
            groups=st.lists(group_st, max_size=6),
            cuts=st.lists(st.integers(1, 64), max_size=40),
        )
        def check(groups, cuts):
            groups = [(tuple(t), r) for t, r in groups]
            stream = frame_record_groups(groups)
            parser = RecordGroupStreamParser()
            out, pos, i = [], 0, 0
            while pos < len(stream):
                n = cuts[i % len(cuts)] if cuts else 13
                out.extend(parser.feed(stream[pos:pos + n]))
                pos += n
                i += 1
            assert out == groups

        check()


class TestRobustness:
    def test_count_worker_on_timeline_job_is_dropped(self, tmp_path):
        """A count-mode worker (empty tags) aimed at a timeline job must
        not kill the aggregation — its non-bucket group is dropped and
        the real buckets publish (the reference's std::stoll would
        abort)."""
        def drive(server):
            s = connect_to_reducer("127.0.0.1", server.reducer_port, 9)
            send_pipeline_results(s, [
                ((), [{"count": 3}]),        # misconfigured count worker
                (("2000",), [{"count": 4}]),  # real bucket
            ])
            s.close()
            _wait_for_total(server, 7)

        cache = _run_job(tmp_path, 9, 1000, drive)
        assert cache.read_timeline(9) == [(2000, 4)]

    def test_malformed_payload_terminates_connection_only(self, tmp_path):
        """A well-formed msgpack frame of the wrong SHAPE terminates that
        connection; the job still completes with the good worker's
        data."""
        def drive(server):
            bad = connect_to_reducer("127.0.0.1", server.reducer_port, 10)
            payload = msgpack_pack(["not", "a", "record", "group"])
            bad.sendall(struct.pack("<Q", len(payload)) + payload)
            bad.close()
            good = connect_to_reducer("127.0.0.1", server.reducer_port, 10)
            send_pipeline_results(good, [((), [{"count": 5}])])
            good.close()
            _wait_for_total(server, 5)

        cache = _run_job(tmp_path, 10, None, drive)
        assert cache.read_documents(10) == [
            {"group_tags": [], "records": [{"count": 5}]}
        ]

    def test_negative_job_id_config_fails_cleanly(self, tmp_path):
        cache = ResultsCache(str(tmp_path / "r.db"))
        sched = FakeScheduler()
        server = ReducerServer(cache)
        result = {}

        def run():
            result["ok"] = server.serve_one_job("127.0.0.1", sched.port)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        try:
            conn, _ = sched.listener.accept()
            sched.conn = conn
            (size,) = struct.unpack("<Q", _recv_exact(conn, 8))
            msgpack_unpack(_recv_exact(conn, size))
            cfg = msgpack_pack({"job_id": -3})
            conn.sendall(struct.pack("<Q", len(cfg)) + cfg)
            t.join(timeout=10)
            assert not t.is_alive()
            assert result["ok"] is False and server.failed
        finally:
            server.close()
            sched.close()

    def test_silent_worker_gets_drain_deadline(self, tmp_path):
        """A worker that negotiates then goes silent (host died, no RST)
        must not block finalization forever: once the scheduler declares
        the job done, open connections get a drain deadline and the job
        publishes what arrived."""
        import time as _time

        stuck = {}

        def drive(server):
            good = connect_to_reducer("127.0.0.1", server.reducer_port, 12)
            send_pipeline_results(good, [((), [{"count": 8}])])
            good.close()
            # negotiated but never sends and never closes
            stuck["sock"] = connect_to_reducer(
                "127.0.0.1", server.reducer_port, 12
            )
            assert stuck["sock"] is not None
            _wait_for_total(server, 8)

        start = _time.monotonic()
        cache = _run_job(tmp_path, 12, None, drive)
        assert _time.monotonic() - start < 45  # 10 s drain, not 60 s fail
        assert cache.read_documents(12) == [
            {"group_tags": [], "records": [{"count": 8}]}
        ]
        stuck["sock"].close()


# ---------------------------------------------------------------------------
# Spark-side partial senders
# ---------------------------------------------------------------------------

class TestSparkSenders:
    def test_spark_send_count(self, spark, tmp_path):
        from clp_spark.streaming.reducer import spark_send_count

        df = spark.range(0, 1000).repartition(4)

        def drive(server):
            spark_send_count(df, "127.0.0.1", server.reducer_port, 21)
            _wait_for_total(server, 1000)

        cache = _run_job(tmp_path, 21, None, drive)
        assert cache.read_documents(21) == [
            {"group_tags": [], "records": [{"count": 1000}]}
        ]

    def test_spark_send_count_by_time_matches_oracle(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from clp_spark.operators.aggregate import count_by_time
        from clp_spark.streaming.reducer import spark_send_count_by_time

        # timestamps straddling zero to pin the truncation rule on the
        # distributed path too
        df = spark.range(-500, 2500).select(
            (F.col("id") * 7).alias("ts_ms")
        ).repartition(5)
        oracle = {
            r["bucket_ts"]: r["cnt"]
            for r in count_by_time(df, F.col("ts_ms"), 1000).collect()
        }
        total = sum(oracle.values())

        def drive(server):
            spark_send_count_by_time(
                df, "ts_ms", 1000, "127.0.0.1", server.reducer_port, 22
            )
            _wait_for_total(server, total)

        cache = _run_job(tmp_path, 22, 1000, drive)
        assert dict(cache.read_timeline(22)) == oracle


# ---------------------------------------------------------------------------
# CLI integration
# ---------------------------------------------------------------------------

class TestCli:
    def test_search_kql_count_to_reducer(self, tmp_path):
        """`s-kql --output-handler reducer --count`: the end-to-end clp-s
        shape (clp-s.cpp:310-331) over a JSONL input."""
        from clp_spark import cli

        src = tmp_path / "logs.jsonl"
        src.write_text(
            "\n".join(
                json.dumps({"level": "ERROR" if i % 3 == 0 else "INFO",
                            "i": i})
                for i in range(90)
            ) + "\n"
        )

        def drive(server):
            cli.main([
                "s-kql", str(src), "level: ERROR",
                "--output-handler", "reducer", "--count",
                "--host", "127.0.0.1",
                "--port", str(server.reducer_port),
                "--job-id", "33",
            ])
            _wait_for_total(server, 30)

        cache = _run_job(tmp_path, 33, None, drive)
        assert cache.read_documents(33) == [
            {"group_tags": [], "records": [{"count": 30}]}
        ]

    def test_reducer_handler_requires_aggregation(self, tmp_path):
        from clp_spark import cli

        src = tmp_path / "x.jsonl"
        src.write_text('{"a": 1}\n')
        with pytest.raises(SystemExit, match="only supports the count"):
            cli.main([
                "s-kql", str(src), "a: 1",
                "--output-handler", "reducer",
                "--host", "h", "--port", "1", "--job-id", "1",
            ])

    def test_reducer_handler_requires_job_id(self, tmp_path):
        from clp_spark import cli

        src = tmp_path / "x.jsonl"
        src.write_text('{"a": 1}\n')
        with pytest.raises(SystemExit, match="job-id must be specified"):
            cli.main([
                "s-kql", str(src), "a: 1",
                "--output-handler", "reducer", "--count",
                "--host", "h", "--port", "1",
            ])

    def test_text_search_count_to_reducer(self, tmp_path):
        """`s --output-handler reducer --count-by-time` over a text-log
        archive (the clo CountByTimeOutputHandler path)."""
        from clp_spark import cli

        log = tmp_path / "app.log"
        lines = []
        for i in range(60):
            ts = f"2024-01-01 00:00:{i % 60:02d}.000"
            word = "apple" if i % 2 == 0 else "banana"
            lines.append(f"{ts} job {word} took {i} ms")
        log.write_text("\n".join(lines) + "\n")
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(log)])

        def drive(server):
            cli.main([
                "s", arch, "*apple*",
                "--output-handler", "reducer",
                "--count-by-time", "10000",
                "--host", "127.0.0.1",
                "--port", str(server.reducer_port),
                "--job-id", "44",
            ])
            _wait_for_total(server, 30)

        cache = _run_job(tmp_path, 44, 10000, drive)
        rows = cache.read_timeline(44)
        assert sum(c for _, c in rows) == 30
        assert all(t % 10000 == 0 for t, _ in rows)

    def test_reducer_server_cli_one_job(self, tmp_path):
        """The `reducer-server` subcommand end-to-end: real scheduler
        handshake, one worker, publish, exit 0 (--one-job)."""
        from clp_spark import cli

        db = str(tmp_path / "cache.db")
        sched = FakeScheduler()
        rc = {}

        def run_cli():
            try:
                cli.main([
                    "reducer-server", "--results-db", db,
                    "--reducer-port", "0",
                    "--scheduler-host", "127.0.0.1",
                    "--scheduler-port", str(sched.port),
                    "--one-job",
                ])
            except SystemExit as e:
                rc["code"] = e.code

        t = threading.Thread(target=run_cli, daemon=True)
        t.start()
        try:
            sched.accept_and_configure(55, None)
            port = sched.advertisement["port"]
            sock = connect_to_reducer("127.0.0.1", port, 55)
            assert sock is not None
            send_pipeline_results(sock, [((), [{"count": 9}])])
            sock.close()
            deadline = time.monotonic() + 10
            cache = ResultsCache(db)
            sched.send_all_results_sent()
            sched.wait_final_ack()
            t.join(timeout=30)
            assert rc.get("code") == 0
            assert cache.read_documents(55) == [
                {"group_tags": [], "records": [{"count": 9}]}
            ]
        finally:
            sched.close()
