"""CLP reducer: the distributed count / count-by-time aggregation protocol.

The reference ships a standalone ``reducer_server`` that merges partial
aggregates streamed from search workers over TCP and publishes the merged
result to a results cache (components/core/src/reducer/):

- worker negotiation: the client sends its 8-byte little-endian int64 job
  id and the server replies one byte ``'y'`` iff it matches the job being
  processed (network_utils.cpp:17-45 connect_to_reducer,
  RecordReceiverContext.cpp:10-43);
- record-group stream: ``<u64 LE size><msgpack {"group_tags": [str...],
  "records": [{...}...]}>`` frames, 16 MiB per-group cap
  (RecordReceiverContext.cpp:46-84 read_record_groups_packet,
  DeserializedRecordGroup.hpp:26-27 key names);
- merge pipeline: a CountOperator keyed by the group tags — *intra*-stage
  input (what the server receives) sums each record's ``"count"`` field,
  *inter*-stage input (what a worker accumulates locally) counts records
  (CountOperator.cpp:4-24, Pipeline.cpp);
- scheduler lifecycle: the reducer connects to the query scheduler, sends a
  size-prefixed msgpack advertisement ``{"host", "port"}``, receives the job
  config ``{"job_id", "count_by_time_bucket_size"?}``, acks ``'y'``, and on
  the scheduler's next message ("all results sent") finalizes: publishes the
  merged groups and acks ``'y'`` again (ServerContext.cpp:89-132,143-163,
  reducer_server.cpp SchedulerUpdateListenerTask);
- timeline mode: when the job config carries ``count_by_time_bucket_size``,
  a periodic timer (default 100 ms, CommandLineArguments.hpp:44) upserts
  only the buckets updated since the last tick as ``{timestamp, count}``
  documents keyed by timestamp (ServerContext.cpp:165-211).

Results-cache deviation: the reference upserts into MongoDB (a serving
layer external to this sandbox — declared waiver in STATUS.md); here the
cache is a local sqlite file with one table per job id carrying the same
document shapes (``timestamp INTEGER PRIMARY KEY, count INTEGER`` for
timeline jobs; JSON documents otherwise), so every protocol observable —
upsert-by-timestamp semantics included — is testable in-process.

Spark side: ``spark_send_count`` / ``spark_send_count_by_time`` compute the
per-partition partial aggregates executor-side (vectorized over Arrow
batches — no per-row Python) and stream them to the reducer from each
partition, exactly the reference's one-connection-per-worker shape
(clo/OutputHandler.cpp:160-192 CountOutputHandler/CountByTimeOutputHandler,
clp_s/OutputHandlerImpl.cpp:181-214). At fleet scale the reducer sees
O(partitions) connections each carrying O(distinct buckets) bytes — the
raw matches never leave the executors.
"""
from __future__ import annotations

import json
import socket
import sqlite3
import struct
import threading
from typing import Callable, Iterable, Iterator

from clp_spark.sinks.single_file_archive import msgpack_pack, msgpack_unpack

# RecordReceiverContext.hpp cMaxRecordSize: terminate on >= 16 MiB groups.
MAX_RECORD_GROUP_SIZE = 16 * 1024 * 1024
# reducer_server.cpp SchedulerUpdateListenerTask::cMaxMessageSize.
MAX_SCHEDULER_MESSAGE_SIZE = 16 * 1024 * 1024
# DeserializedRecordGroup.hpp:26-27.
GROUP_TAGS_KEY = "group_tags"
RECORDS_KEY = "records"
# CountOperator.hpp cRecordElementKey.
COUNT_KEY = "count"
# ServerContext.hpp cJobAttributes.
JOB_ID_KEY = "job_id"
TIME_BUCKET_SIZE_KEY = "count_by_time_bucket_size"
# CommandLineArguments.hpp defaults.
DEFAULT_REDUCER_PORT = 14009
DEFAULT_SCHEDULER_PORT = 7000
DEFAULT_UPSERT_INTERVAL_MS = 100

GroupTags = tuple[str, ...]
RecordGroup = tuple[GroupTags, list[dict]]


# ---------------------------------------------------------------------------
# Record-group framing (RecordReceiverContext.cpp:46-84)
# ---------------------------------------------------------------------------

def serialize_record_group(tags: Iterable[str], records: list[dict]) -> bytes:
    """One msgpack record group (DeserializedRecordGroup serialize())."""
    return msgpack_pack({GROUP_TAGS_KEY: list(tags), RECORDS_KEY: records})


def frame_record_groups(groups: Iterable[RecordGroup]) -> bytes:
    """``<u64 LE size><group>`` per group — the wire stream a worker sends
    (network_utils.cpp:63-75 send_pipeline_results framing)."""
    out = bytearray()
    for tags, records in groups:
        payload = serialize_record_group(tags, records)
        out += struct.pack("<Q", len(payload))
        out += payload
    return bytes(out)


class RecordGroupStreamParser:
    """Incremental parser for the framed record-group stream.

    Mirrors read_record_groups_packet: consume complete
    ``<size><payload>`` frames from an append-only buffer, reject any
    frame whose size is >= 16 MiB, keep the partial tail for the next
    read.
    """

    def __init__(self) -> None:
        self._buf = bytearray()

    def feed(self, data: bytes) -> list[RecordGroup]:
        self._buf += data
        groups: list[RecordGroup] = []
        pos = 0
        while len(self._buf) - pos >= 8:
            (size,) = struct.unpack_from("<Q", self._buf, pos)
            if size >= MAX_RECORD_GROUP_SIZE:
                raise ValueError(f"record group too large: {size}B")
            if len(self._buf) - pos < 8 + size:
                break
            payload = bytes(self._buf[pos + 8:pos + 8 + size])
            obj = msgpack_unpack(payload)
            groups.append(
                (tuple(str(t) for t in obj[GROUP_TAGS_KEY]),
                 list(obj[RECORDS_KEY]))
            )
            pos += 8 + size
        del self._buf[:pos]
        return groups


# ---------------------------------------------------------------------------
# Merge pipeline (CountOperator.cpp, Pipeline.cpp)
# ---------------------------------------------------------------------------

class CountOperator:
    """Per-group-tags running count; ordered iteration like std::map
    (lexicographic on the tag vector — Python tuple-of-str order agrees)."""

    def __init__(self) -> None:
        self.group_count: dict[GroupTags, int] = {}

    def push_intra_stage(self, tags: GroupTags, records: list[dict]) -> None:
        # Server input: records already carry partial counts — sum them
        # (CountOperator.cpp:4-13; note the reference creates the entry
        # even for an empty record list, via operator[]).
        total = self.group_count.get(tags, 0)
        for rec in records:
            total += rec[COUNT_KEY]
        self.group_count[tags] = total

    def push_inter_stage(self, tags: GroupTags, records: list[dict]) -> None:
        # Worker input: one increment per raw record (CountOperator.cpp:15-23).
        self.group_count[tags] = self.group_count.get(tags, 0) + len(records)

    def result_groups(
        self, filtered_tags: set[GroupTags] | None = None
    ) -> Iterator[RecordGroup]:
        for tags in sorted(self.group_count):
            if filtered_tags is not None and tags not in filtered_tags:
                continue
            yield tags, [{COUNT_KEY: self.group_count[tags]}]


# ---------------------------------------------------------------------------
# Worker-side client (network_utils.cpp:17-75)
# ---------------------------------------------------------------------------

def connect_to_reducer(
    host: str, port: int, job_id: int, timeout: float = 30.0
) -> socket.socket | None:
    """Negotiate a sender connection; None on rejection (the reference
    returns -1)."""
    try:
        sock = socket.create_connection((host, port), timeout=timeout)
    except OSError:
        return None
    try:
        sock.sendall(struct.pack("<q", job_id))
        ret = sock.recv(1)
    except OSError:
        sock.close()
        return None
    if ret != b"y":
        sock.close()
        return None
    # negotiation done — sends may later block on server backpressure far
    # longer than the connect timeout
    sock.settimeout(None)
    return sock


def send_pipeline_results(
    sock: socket.socket, groups: Iterable[RecordGroup], buf_size: int = 1024
) -> bool:
    """Stream framed record groups through a small write buffer
    (BufferedSocketWriter with its 1 KiB buffer; byte stream identical)."""
    buf = bytearray()
    try:
        for group in groups:
            buf += frame_record_groups([group])
            if len(buf) >= buf_size:
                sock.sendall(buf)
                buf.clear()
        if buf:
            sock.sendall(buf)
    except OSError:
        return False
    return True


# ---------------------------------------------------------------------------
# Results cache (sqlite stand-in for the reference's MongoDB collections)
# ---------------------------------------------------------------------------

class ResultsCache:
    """One sqlite file; one table per job id (the reference uses one
    MongoDB collection per job id, ServerContext.cpp:161-162)."""

    def __init__(self, db_path: str) -> None:
        self.db_path = db_path
        self._lock = threading.Lock()

    def _connect(self) -> sqlite3.Connection:
        return sqlite3.connect(self.db_path, timeout=30.0)

    def upsert_timeline(self, job_id: int, rows: list[tuple[int, int]]) -> None:
        """replace_one-with-upsert keyed by timestamp
        (ServerContext.cpp:172-211)."""
        if not rows:
            return
        with self._lock, self._connect() as con:
            con.execute(
                f"CREATE TABLE IF NOT EXISTS job_{job_id} "
                "(timestamp INTEGER PRIMARY KEY, count INTEGER)"
            )
            con.executemany(
                f"INSERT INTO job_{job_id} (timestamp, count) VALUES (?, ?) "
                "ON CONFLICT(timestamp) DO UPDATE SET count = excluded.count",
                rows,
            )

    def publish_documents(self, job_id: int, docs: list[dict]) -> None:
        """insert_many of the final record groups
        (ServerContext.cpp:213-235)."""
        if not docs:
            return
        with self._lock, self._connect() as con:
            con.execute(
                f"CREATE TABLE IF NOT EXISTS job_{job_id} (doc TEXT)"
            )
            con.executemany(
                f"INSERT INTO job_{job_id} (doc) VALUES (?)",
                [(json.dumps(d, sort_keys=True),) for d in docs],
            )

    def read_timeline(self, job_id: int) -> list[tuple[int, int]]:
        with self._lock, self._connect() as con:
            try:
                return sorted(con.execute(
                    f"SELECT timestamp, count FROM job_{job_id}"
                ).fetchall())
            except sqlite3.OperationalError:
                return []

    def read_documents(self, job_id: int) -> list[dict]:
        with self._lock, self._connect() as con:
            try:
                rows = con.execute(f"SELECT doc FROM job_{job_id}").fetchall()
            except sqlite3.OperationalError:
                return []
        return [json.loads(r[0]) for r in rows]


# ---------------------------------------------------------------------------
# Reducer server (reducer_server.cpp + ServerContext.cpp)
# ---------------------------------------------------------------------------

class ReducerServer:
    """One reducer job lifecycle over real sockets.

    States follow ServerContext::ServerStatus: Idle until the scheduler's
    job config arrives, Running while workers stream partials,
    ReceivedAllResults once the scheduler says every worker finished; the
    final publish happens when the last receiver drains
    (ServerContext.cpp:134-141 decrement_num_active_receiver_tasks).
    """

    def __init__(
        self,
        results_cache: ResultsCache,
        reducer_host: str = "127.0.0.1",
        reducer_port: int = 0,
        upsert_interval_ms: int = DEFAULT_UPSERT_INTERVAL_MS,
    ) -> None:
        self.cache = results_cache
        self.reducer_host = reducer_host
        self.upsert_interval_ms = upsert_interval_ms
        self._acceptor = socket.create_server(
            (reducer_host, reducer_port), backlog=64
        )
        self.reducer_port = self._acceptor.getsockname()[1]
        self._lock = threading.Lock()
        # serializes timeline cache WRITERS (ticks vs finalize) so writes
        # land in snapshot order — the server lock itself is never held
        # across cache I/O (receivers must not stall on sqlite)
        self._upsert_lock = threading.Lock()
        self._status = "Idle"
        self._job_id: int | None = None
        self._is_timeline = False
        self._pipeline = CountOperator()
        self._updated_tags: set[GroupTags] = set()
        self._active_receivers = 0
        self._receiver_conns: set[socket.socket] = set()
        self._receiver_threads: list[threading.Thread] = []
        self._accept_thread: threading.Thread | None = None
        self._upsert_timer: threading.Timer | None = None
        self._scheduler_sock: socket.socket | None = None
        self._finalized = False
        self.done = threading.Event()
        self.failed = False
        # a failure no next job can recover from (failed registration,
        # results-cache write failure): the serving loop exits on it
        self.unrecoverable = False

    # -- scheduler channel -------------------------------------------------

    def register_with_scheduler(self, host: str, port: int) -> bool:
        """Size-prefixed msgpack advertisement {host, port}
        (ServerContext.cpp:89-121)."""
        try:
            sock = socket.create_connection((host, port), timeout=30.0)
        except OSError:
            return False
        # The connect timeout must not linger: the reducer blocks on this
        # socket for the whole job (the "all results sent" message arrives
        # only after every worker finishes, minutes later at fleet scale).
        sock.settimeout(None)
        ad = msgpack_pack(
            {"host": self.reducer_host, "port": self.reducer_port}
        )
        try:
            sock.sendall(struct.pack("<Q", len(ad)) + ad)
        except OSError:
            sock.close()
            return False
        self._scheduler_sock = sock
        return True

    def _ack_scheduler(self) -> bool:
        try:
            assert self._scheduler_sock is not None
            self._scheduler_sock.sendall(b"y")
            return True
        except (OSError, AssertionError):
            return False

    def _read_scheduler_message(self) -> dict | None:
        """One ``<u64 size><msgpack map>`` message from the scheduler
        (SchedulerUpdateListenerTask)."""
        sock = self._scheduler_sock
        assert sock is not None
        header = _recv_exact(sock, 8)
        if header is None:
            return None
        (size,) = struct.unpack("<Q", header)
        if size > MAX_SCHEDULER_MESSAGE_SIZE:
            return None
        body = _recv_exact(sock, size)
        if body is None:
            return None
        try:
            msg = msgpack_unpack(body)
        except ValueError:
            return None
        return msg if isinstance(msg, dict) else None

    # -- job lifecycle -----------------------------------------------------

    def serve_one_job(self, scheduler_host: str, scheduler_port: int) -> bool:
        """Register, run one job to completion, return success."""
        if not self.register_with_scheduler(scheduler_host, scheduler_port):
            self.failed = self.unrecoverable = True
            self.done.set()
            return False
        config = self._read_scheduler_message()
        if config is None or JOB_ID_KEY not in config:
            self.failed = True
            self.done.set()
            return False
        try:
            self._set_up_pipeline(config)
        except (TypeError, ValueError):
            # malformed job config (non-integer / negative job id) — the
            # failed-job contract, not an unhandled traceback
            self.failed = True
            self.done.set()
            return False
        with self._lock:
            self._status = "Running"
        if self._is_timeline:
            self._schedule_upsert()
        if not self._ack_scheduler():
            self._fail()
            return False
        self._accept_thread = threading.Thread(
            target=self._accept_loop, daemon=True
        )
        self._accept_thread.start()

        # Block on the "all results sent" notification; its contents are
        # not examined (reducer_server.cpp:226-231).
        if self._read_scheduler_message() is None:
            self._fail()
            return False
        with self._lock:
            self._status = "ReceivedAllResults"
            should_finalize = 0 == self._active_receivers
        # Stop accepting new senders (tcp_acceptor.cancel()). Receivers
        # poll with a short socket timeout, so still-open connections
        # observe the status flip and drain out on their own deadline.
        self._close_acceptor()
        if should_finalize:
            self._try_finalize()
        if not self.done.wait(timeout=60.0):
            self._fail()
            return False
        return not self.failed

    def _set_up_pipeline(self, config: dict) -> None:
        """ServerContext::set_up_pipeline — CountOperator always; timeline
        mode iff the config carries a non-null bucket size. The job id
        names a results table, so it must be a non-negative integer
        (the CLIs enforce the same bound on the worker side)."""
        job_id = int(config[JOB_ID_KEY])
        if job_id < 0:
            raise ValueError("job_id cannot be negative")
        self._job_id = job_id
        bucket = config.get(TIME_BUCKET_SIZE_KEY)
        self._is_timeline = bucket is not None
        self._pipeline = CountOperator()
        self._updated_tags = set()

    def _schedule_upsert(self) -> None:
        with self._lock:
            if self._status != "Running":
                return
        try:
            self._upsert_timeline_results()
        except Exception:
            # a transient cache failure must not kill the timer chain —
            # the unwritten tags stay queued and the next tick retries
            pass
        self._upsert_timer = threading.Timer(
            self.upsert_interval_ms / 1000.0, self._schedule_upsert
        )
        self._upsert_timer.daemon = True
        self._upsert_timer.start()

    def _upsert_timeline_results(self) -> bool:
        """Upsert only the buckets touched since the last tick
        (ServerContext.cpp:172-211). Writers serialize on the upsert
        lock and each snapshots AFTER acquiring it, so a stalled tick
        can never overwrite a newer count written by finalize
        (lost-update); the dirty set swaps out before the write and
        merges back on failure, so a failed write retries on the next
        tick instead of silently dropping those buckets. The server
        lock is held only for the in-memory snapshot — receivers never
        block on cache I/O."""
        with self._upsert_lock:
            with self._lock:
                if not self._updated_tags:
                    return True
                pending = self._updated_tags
                self._updated_tags = set()
                rows = []
                for tags, records in self._pipeline.result_groups(pending):
                    try:
                        rows.append((int(tags[0]), records[0][COUNT_KEY]))
                    except (IndexError, ValueError):
                        # a count-mode worker (empty tags) aimed at a
                        # timeline job — drop the non-bucket group rather
                        # than killing the aggregation (the reference's
                        # std::stoll would abort the server here)
                        continue
                job_id = self._job_id
                assert job_id is not None
            try:
                self.cache.upsert_timeline(job_id, rows)
                return True
            except Exception:
                with self._lock:
                    self._updated_tags |= pending
                return False

    # -- worker channel ----------------------------------------------------

    def _accept_loop(self) -> None:
        while True:
            try:
                conn, _addr = self._acceptor.accept()
            except OSError:
                return  # acceptor closed
            with self._lock:
                if self._status != "Running":
                    conn.close()
                    continue
                self._active_receivers += 1
                self._receiver_conns.add(conn)
            t = threading.Thread(
                target=self._receive_loop, args=(conn,), daemon=True
            )
            self._receiver_threads.append(t)
            t.start()

    def _receive_loop(self, conn: socket.socket) -> None:
        try:
            self._validate_and_receive(conn)
        except Exception:
            # malformed payloads (wrong msgpack shape, non-int counts)
            # terminate the connection like the reference's invalid-input
            # handling — never the receiver thread with a traceback
            pass
        finally:
            conn.close()
            with self._lock:
                self._active_receivers -= 1
                self._receiver_conns.discard(conn)
                should_finalize = (
                    0 == self._active_receivers
                    and self._status == "ReceivedAllResults"
                )
            if should_finalize:
                self._try_finalize()

    # After the scheduler declares the job complete, an open worker
    # connection may still be draining — but a DEAD one (host gone, no
    # RST) must not block finalization forever. Receivers poll with a
    # short timeout and give up this many seconds after the flip.
    DRAIN_DEADLINE_S = 10.0
    _POLL_S = 1.0

    def _validate_and_receive(self, conn: socket.socket) -> None:
        conn.settimeout(30.0)  # negotiation allowance
        init = _recv_exact(conn, 8)
        if init is None:
            return
        (job_id,) = struct.unpack("<q", init)
        if job_id != self._job_id:
            return  # reject without the accept byte
        try:
            conn.sendall(b"y")
        except OSError:
            return
        conn.settimeout(self._POLL_S)
        idle_after_done = 0.0
        parser = RecordGroupStreamParser()
        while True:
            try:
                data = conn.recv(65536)
            except socket.timeout:
                with self._lock:
                    running = self._status == "Running"
                if not running:
                    idle_after_done += self._POLL_S
                    if idle_after_done >= self.DRAIN_DEADLINE_S:
                        return  # drain deadline: give up on a dead peer
                continue
            except OSError:
                return
            if not data:
                return
            idle_after_done = 0.0
            try:
                groups = parser.feed(data)
            except ValueError:
                return  # oversized group terminates the connection
            with self._lock:
                # Deviation (safe direction): the reference stops consuming
                # the moment the scheduler's "all results sent" message
                # flips the status (reducer_server.cpp ReceiveTask), which
                # can drop partials still in a kernel buffer. Finalization
                # already waits for every active receiver to drain, so
                # accepting their remaining bytes loses nothing and makes
                # the merged totals deterministic.
                if self._status not in ("Running", "ReceivedAllResults"):
                    return
                for tags, records in groups:
                    if self._is_timeline:
                        self._updated_tags.add(tags)
                    self._pipeline.push_intra_stage(tags, records)

    # -- finalize ----------------------------------------------------------

    def _try_finalize(self) -> None:
        with self._lock:
            if self._finalized:
                return
            self._finalized = True
        if self._upsert_timer is not None:
            self._upsert_timer.cancel()
        job_id = self._job_id
        assert job_id is not None
        if self._is_timeline:
            ok = self._upsert_timeline_results()
        else:
            docs = [
                {GROUP_TAGS_KEY: list(tags), RECORDS_KEY: records}
                for tags, records in self._pipeline.result_groups()
            ]
            try:
                self.cache.publish_documents(job_id, docs)
                ok = True
            except Exception:
                ok = False
        if not ok:
            # the final ack promises published results — on a cache
            # failure report the job failed instead
            # (ServerContext.cpp:250-256 UnrecoverableFailure)
            self.unrecoverable = True
            self._fail()
            return
        self._ack_scheduler()
        self.done.set()

    def _fail(self) -> None:
        self.failed = True
        with self._lock:
            # leaving "Running" would let a concurrently-firing upsert
            # tick re-arm itself forever and receivers keep merging
            self._status = "Failed"
            conns = list(self._receiver_conns)
        self._close_acceptor()
        for conn in conns:
            try:
                conn.close()
            except OSError:
                pass
        if self._upsert_timer is not None:
            self._upsert_timer.cancel()
        self.done.set()

    def _close_acceptor(self) -> None:
        try:
            self._acceptor.close()
        except OSError:
            pass

    def close(self) -> None:
        self._close_acceptor()
        if self._upsert_timer is not None:
            self._upsert_timer.cancel()
        if self._scheduler_sock is not None:
            try:
                self._scheduler_sock.close()
            except OSError:
                pass


def _recv_exact(sock: socket.socket, n: int) -> bytes | None:
    buf = bytearray()
    while len(buf) < n:
        try:
            chunk = sock.recv(n - len(buf))
        except OSError:
            return None
        if not chunk:
            return None
        buf += chunk
    return bytes(buf)


# ---------------------------------------------------------------------------
# Spark-side partial aggregation + send (executor-side, Arrow-vectorized)
# ---------------------------------------------------------------------------

def trunc_bucket(ts, bucket_ms: int):
    """``(ts / B) * B`` with C++ truncating integer division
    (clo/OutputHandler.hpp:271-272, clp_s/aggregators.hpp:111-113) over an
    int64 numpy array. numpy's ``//`` floors, so negative timestamps not on
    a bucket boundary need the +1 correction to truncate toward zero."""
    import numpy as np

    q = ts // bucket_ms
    r = ts - q * bucket_ms
    q = q + ((ts < 0) & (r != 0))
    return (q * bucket_ms).astype(np.int64)


# Bounded sender fan-in: the reducer is a single merge point, so the
# number of CONNECTIONS must not scale with data partitions. Partials
# aggregate distributed (side-effect-free — Spark may retry those tasks
# freely), then shuffle down to at most this many sender tasks, each
# opening one connection. The reference's concurrency is likewise the
# worker-slot count, not the task count.
MAX_SENDERS = 32


def spark_send_count(
    df, host: str, port: int, job_id: int, senders: int = MAX_SENDERS
) -> int:
    """Distributed count → reducer (clo CountOutputHandler: an
    inter-stage CountOperator fed one record per result, flushed as a
    single ``{"count": n}`` group with empty tags).

    Two stages: per-partition local counts (pure compute, retry-safe),
    then ≤``senders`` merge-and-send tasks — one connection each, guarded
    at-most-once. Returns the number of sender tasks that sent a group.
    """
    import pyarrow as pa
    from pyspark.sql import functions as F

    out_schema = pa.schema([("groups_sent", pa.int64())])

    def partial(batches):
        n = 0
        for batch in batches:
            n += batch.num_rows
        yield pa.RecordBatch.from_pylist(
            [{"cnt": n}], schema=pa.schema([("cnt", pa.int64())])
        )

    def send(batches):
        n = 0
        for batch in batches:
            # tiny column (one partial per upstream partition) — plain sum;
            # pa.compute is a side-effect import, not guaranteed present
            n += sum(batch.column(0).to_pylist())
        sent = _send_groups(host, port, job_id,
                            [((), [{COUNT_KEY: n}])] if n else [])
        yield pa.RecordBatch.from_pylist([{"groups_sent": sent}],
                                         schema=out_schema)

    rows = (
        df.select(F.lit(1).alias("one"))
        .mapInArrow(partial, "cnt long")
        .repartition(senders)
        .mapInArrow(send, "groups_sent long")
        .collect()
    )
    return sum(1 for r in rows if r["groups_sent"])


def spark_send_count_by_time(
    df, ts_col: str, bucket_ms: int, host: str, port: int, job_id: int,
    senders: int = MAX_SENDERS,
) -> int:
    """Distributed bucket→count partials → reducer (clo
    CountByTimeOutputHandler / clp_s CountByTimeReducerOutputHandler:
    ``std::map<int64, int64>`` flushed as one group per bucket, tags =
    [str(bucket)], numeric order). Bucket math and counting are numpy
    passes over each Arrow batch.

    Two stages: per-partition bucket counts (pure compute, retry-safe)
    shuffle BY BUCKET down to ≤``senders`` send tasks — each bucket's
    partials merge inside one sender, one connection per sender,
    at-most-once guarded. Returns the total groups sent."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F

    out_schema = pa.schema([("groups_sent", pa.int64())])
    part_schema = pa.schema([("bucket", pa.int64()), ("cnt", pa.int64())])

    def partial(batches):
        acc: dict[int, int] = {}
        for batch in batches:
            ts = batch.column(0).to_numpy(zero_copy_only=False)
            buckets, counts = np.unique(
                trunc_bucket(ts.astype(np.int64), bucket_ms),
                return_counts=True,
            )
            for b, c in zip(buckets.tolist(), counts.tolist()):
                acc[b] = acc.get(b, 0) + c
        yield pa.RecordBatch.from_pylist(
            [{"bucket": b, "cnt": c} for b, c in acc.items()],
            schema=part_schema,
        )

    def send(batches):
        acc: dict[int, int] = {}
        for batch in batches:
            for b, c in zip(batch.column(0).to_pylist(),
                            batch.column(1).to_pylist()):
                acc[b] = acc.get(b, 0) + c
        groups = [
            ((str(b),), [{COUNT_KEY: acc[b]}]) for b in sorted(acc)
        ]
        sent = _send_groups(host, port, job_id, groups)
        yield pa.RecordBatch.from_pylist([{"groups_sent": sent}],
                                         schema=out_schema)

    src = df.select(F.col(ts_col).cast("long").alias("ts_ms")).where(
        F.col(ts_col).isNotNull()
    )
    rows = (
        src.mapInArrow(partial, "bucket long, cnt long")
        .repartition(senders, F.col("bucket"))
        .mapInArrow(send, "groups_sent long")
        .collect()
    )
    return sum(r["groups_sent"] for r in rows)


def _guard_first_attempt(attempt: int | None) -> None:
    """Refuse to send from a RETRIED Spark task.

    Partial-count sends are not idempotent: a task that streamed some of
    its groups before dying would double-count them if its retry re-sent.
    The reference has the same failure model — a dead worker fails the
    whole query at the scheduler rather than re-sending partials — so a
    retried attempt raises here, which (after Spark exhausts
    spark.task.maxFailures) fails the job; the reducer then never gets
    the scheduler's "all results sent" message and never publishes a
    wrong total.

    Corollary: spark.speculation must stay OFF for reducer queries — a
    speculative copy IS an attempt>0 and would either double-send (no
    guard) or burn a task failure (with it). The guard picks the safe
    side: correctness over speculative stragglers.
    """
    if attempt:
        raise RuntimeError(
            "reducer partials may already have been streamed by attempt 0 "
            "of this task; failing the job instead of double-counting "
            "(re-run the aggregation)"
        )


def _task_attempt_number() -> int:
    """Non-zero when this execution is a task RETRY. (PySpark's
    TaskContext does not expose the stage attempt, so a whole-stage
    resubmission after a shuffle-fetch failure is not detectable here —
    in local mode it cannot occur, and on a cluster the failed send's own
    exception already fails the job before a resubmitted stage could
    double-send to a reducer that is still accepting.)"""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.attemptNumber() if ctx is not None else 0


def _send_groups(
    host: str, port: int, job_id: int, groups: list[RecordGroup]
) -> int:
    """Connect-negotiate-send-close for one partition's partials; every
    partition connects (the reference connects before searching), even
    when it has nothing to send. At-most-once: retried task attempts
    refuse to re-send (see _guard_first_attempt)."""
    _guard_first_attempt(_task_attempt_number())
    sock = connect_to_reducer(host, port, job_id)
    if sock is None:
        raise RuntimeError(
            f"reducer at {host}:{port} rejected job {job_id}"
        )
    try:
        if not send_pipeline_results(sock, groups):
            raise RuntimeError("failed to stream record groups to reducer")
    finally:
        sock.close()
    return len(groups)
