"""The benchmark workloads: seq_pipeline and text_archive.

Each run: start one local Spark session, warm it on a small slice of the
corpus (counted in setup_s), then ingest, query in a closed loop with one
client, and extract. End-to-end operations go through the entry points a
user touches (`clp_spark.cli.main` in process, `run_pipeline`); the traced
run times the public functions behind them, inside spans.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from clp_spark import cli as clp_cli
from clp_spark.plans.pipeline import session_defaults
from perfbench import expect
from perfbench.trace import (
    Phase,
    SparkProbe,
    Tracer,
    loadavg,
    peak_rss_mb,
    process_tree,
    self_times,
)

DRIVER_MEMORY = "2g"

# per-layer metric → (end-to-end metric it should move, workloads it is on)
LAYERS = {
    "plans.pipeline.encode_stage_s": ("ingest_rows_per_s", "seq_pipeline"),
    "plans.pipeline.dicts_stage_s": ("ingest_rows_per_s", "seq_pipeline"),
    "plans.pipeline.route_stage_s": ("ingest_rows_per_s", "seq_pipeline"),
    "plans.pipeline.agg_stage_s": ("ingest_rows_per_s", "seq_pipeline"),
    "plans.pipeline.logtypes": ("stored_bytes_per_raw_byte", "seq_pipeline"),
    "plans.pipeline.variables": ("stored_bytes_per_raw_byte", "seq_pipeline"),
    "pipeline.scan_s": ("ingest_rows_per_s", "seq_pipeline"),
    "functions.arrow_kernel.boundary_s": ("ingest_rows_per_s", "seq_pipeline"),
    "functions.arrow_kernel.detok_encode_s": ("ingest_rows_per_s", "seq_pipeline"),
    "functions.arrow_kernel.rows_per_s_1core": ("ingest_rows_per_s", "seq_pipeline"),
    "sources.logfiles.compress_text_logs_s": ("ingest_rows_per_s", "text_archive"),
    "sources.logfiles.extract_to_files_s": ("extract_rows_per_s", "text_archive"),
    "operators.search.compile_s": ("query_p50_s", "both"),
    "operators.search.exec_p50_s": ("query_p50_s", "both"),
    "operators.search.exec_p90_s": ("query_p90_s", "both"),
    "operators.search.verify_precision": ("query_p50_s", "both"),
    "operators.decode.decode_s": ("extract_rows_per_s", "both"),
    "cli.overhead_s": ("query_p50_s", "both"),
    "spark.jobs.ingest": ("ingest_rows_per_s", "both"),
    "spark.jobs.query": ("query_p50_s", "both"),
    "spark.jobs.extract": ("extract_rows_per_s", "both"),
    "spark.tasks.ingest": ("ingest_rows_per_s", "both"),
    "spark.tasks.query": ("query_p50_s", "both"),
    "spark.tasks.extract": ("extract_rows_per_s", "both"),
    "spark.jobs_per_query": ("query_p50_s", "both"),
    "jvm.gc_s.ingest": ("ingest_rows_per_s", "both"),
    "jvm.gc_s.query": ("query_p50_s", "both"),
    "jvm.gc_s.extract": ("extract_rows_per_s", "both"),
    "cpu.util.ingest": ("ingest_rows_per_s", "both"),
    "cpu.util.query": ("query_p50_s", "both"),
    "cpu.util.extract": ("extract_rows_per_s", "both"),
    "trace.overhead_frac": ("(none)", "both"),
}


def _p90(samples: list[float]) -> float:
    if len(samples) < 2:
        return samples[0]
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


def dir_bytes(*paths: str) -> int:
    total = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, n)) for n in files)
    return total


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared run skeleton; subclasses define warm-up, ingest, queries and
    extract for their corpus."""

    name = ""
    EXTRACT_EVERY = 1  # queries of the mix from one timed extract to the next
    CLI_OVERHEAD_QUERIES = 3  # queries the traced run also issues through the CLI

    def __init__(self, seed: int, work: str, seconds: float, traced: bool,
                 process_start: float, load_truth):
        """`load_truth()` blocks until the corpus is written and returns its
        truth.json; the session starts while the corpus is being made."""
        self.seed = seed
        self.truth: dict = {}
        self.load_truth = load_truth
        self.corpus_wait_s = 0.0
        self.work = work
        self.seconds = seconds
        self.traced = traced
        self.process_start = process_start
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = Tracer(f"{self.name}-seed{seed}")
        self.layer: dict[str, tuple[float, str]] = {}
        self.spark = None
        self._n = 0

    # ------------------------------------------------------------ helpers

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, stem: str) -> str:
        """A new, not yet existing path under the work dir."""
        self._n += 1
        return self.path(f"{stem}-{self._n}")

    def cli(self, *argv: str) -> str:
        """`clp_spark.cli.main` in process; returns captured stdout."""
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            clp_cli.main(["--master", self.master, *argv])
        return buf.getvalue()

    def op(self, name: str, fn, expected=None, answer=None):
        """Time one operation as a user issues it, then check its answer.

        `fn` does the work; `answer(result)` (untimed) turns its result into
        what `expected` is compared with. An op that raises, exits or answers
        wrongly counts as failed. Returns (seconds, result)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except (Exception, SystemExit) as exc:  # noqa: BLE001 - counted, reported
            dt = time.perf_counter() - t0
            self.failed += 1
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return dt, None
        dt = time.perf_counter() - t0
        if expected is not None:
            try:
                got = answer(result) if answer else result
                reason = expect.check(expected, got)
            except Exception as exc:  # noqa: BLE001 - a malformed answer is a failed op
                reason = f"{type(exc).__name__}: {exc}"
            if reason:
                self.failed += 1
                self.failures.append(f"{name}: {reason}")
        return dt, result

    def start_session(self) -> None:
        """The session a CLI call would build (session_defaults, 32 shuffle
        partitions), with scratch and status retention set for the run."""
        builder = (
            SparkSession.builder.master(self.master)
            .appName("clp-spark-cli")
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={self.path('tmp')}")
            .config("spark.local.dir", self.path("spark-local"))
            .config("spark.sql.warehouse.dir", self.path("warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "20000")
            .config("spark.ui.retainedStages", "40000")
        )
        self.spark = session_defaults(builder).getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = SparkProbe(self.spark)

    def stop_session(self) -> None:
        """Stop Spark and its JVM, and wait for every child process."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - escalate to kill below
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None
        _reap_descendants()

    # ----------------------------------------------------- the run itself

    def warm_up(self) -> None:
        raise NotImplementedError

    def ingest(self) -> float:
        raise NotImplementedError

    def query(self, q: dict) -> float:
        """One query of the mix, as a user issues it; returns its latency."""
        return self.search_op(self.archive, q)

    def extract(self) -> float:
        """One extract op; returns its wall time."""
        raise NotImplementedError

    def cycle(self) -> tuple[list[float], list[float]]:
        """One pass over the query mix with an extract after the first query
        and after every EXTRACT_EVERY-th one from there, so that the extract
        samples spread over the whole timed phase instead of one short window
        at its end."""
        queries, extracts = [], []
        for i, q in enumerate(self.truth["queries"]):
            queries.append(self.query(q))
            if i % self.EXTRACT_EVERY == 0:
                extracts.append(self.extract())
        return queries, extracts

    def stored_bytes(self) -> int:
        raise NotImplementedError

    def traced_layers(self) -> None:
        raise NotImplementedError

    def run(self):
        load_start = loadavg()
        try:
            self.start_session()
            t0 = time.time()
            self.truth = self.load_truth()
            self.corpus_wait_s = time.time() - t0
            self.warm_up()
            # corpus generation is the benchmark's cost, not the program's
            setup_s = time.time() - self.process_start - self.corpus_wait_s
            if self.traced:
                self.traced_layers()
                metrics = {k: self.layer.get(k, (0.0, _unit(k))) for k in LAYERS}
            else:
                t0 = time.perf_counter()
                ingest_s = self.ingest()
                samples: list[float] = []
                extracts: list[float] = []
                while True:
                    q, x = self.cycle()
                    samples += q
                    extracts += x
                    if time.perf_counter() - t0 >= self.seconds:
                        break
                extract_s = statistics.median(extracts)
                metrics = {
                    "setup_s": (setup_s, "s"),
                    "ingest_rows_per_s": (self.truth["records"] / ingest_s, "rows/s"),
                    "stored_bytes_per_raw_byte": (
                        self.stored_bytes() / self.truth["raw_bytes"], "ratio"),
                    "query_p50_s": (statistics.median(samples), "s"),
                    "extract_rows_per_s": (self.truth["records"] / extract_s, "rows/s"),
                    "peak_rss_mb": (peak_rss_mb(), "MB"),
                }
                self.query_samples = len(samples)
                self.samples_s = {"ingest": [ingest_s], "query": samples, "extract": extracts}
                # printed and kept in meta, not a metric: ten samples are
                # too few for a tail that repeats from run to run
                self.query_p90_s = _p90(samples)
            meta = self.metadata(load_start, setup_s)
        finally:
            self.stop_session()
        meta["loadavg_end"] = loadavg()
        ratio = self.failed / self.attempted if self.attempted else 1.0
        meta["ops_failed_ratio"] = ratio
        result = {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        table = self.table(metrics) if self.traced else self.summary(metrics, ratio)
        return result, meta, table, self.tracer

    def metadata(self, load_start, setup_s) -> dict:
        import pyarrow

        jvm = self.spark.sparkContext._jvm
        meta = {
            "workload": self.name,
            "seed": self.seed,
            "traced": self.traced,
            "nproc": self.nproc,
            "master": self.master,
            "loadavg_start": load_start,
            "spark": self.spark.version,
            "java": jvm.System.getProperty("java.version"),
            "pyarrow": pyarrow.__version__,
            "input_records": self.truth["records"],
            "input_raw_bytes": self.truth["raw_bytes"],
            "logtypes": getattr(self, "logtypes", None),
            "setup_s": setup_s,
            "corpus_wait_s": self.corpus_wait_s,
            "failures": self.failures,
        }
        if not self.traced:
            meta["query_samples"] = self.query_samples
            meta["samples_s"] = self.samples_s
            meta["query_p90_s"] = self.query_p90_s
        return meta

    def summary(self, metrics: dict, ratio: float) -> list[str]:
        lines = [f"{self.name} seed={self.seed} end-to-end "
                 f"(query samples: {self.query_samples})"]
        for k, (v, u) in metrics.items():
            lines.append(f"  {k:28s} {v:14.6g} {u}")
        lines.append(f"  {'query_p90_s':28s} {self.query_p90_s:14.6g} s "
                     f"(of {self.query_samples} samples; not a gated metric)")
        lines.append(f"  {'ops_failed_ratio':28s} {ratio:14.6g} ratio "
                     f"({self.failed}/{self.attempted})")
        for f in self.failures:
            lines.append(f"  FAILED {f}")
        return lines

    def table(self, metrics: dict) -> list[str]:
        lines = [f"{self.name} seed={self.seed} per-layer (self times)",
                 f"  {'metric':42s} {'value':>12s} {'unit':7s} should move / on"]
        for k, (v, u) in metrics.items():
            moves, on = LAYERS[k]
            flag = "" if on in ("both", self.name) else "  (not on this workload's path)"
            lines.append(f"  {k:42s} {v:12.5g} {u:7s} {moves} / {on}{flag}")
        for f in self.failures:
            lines.append(f"  FAILED {f}")
        return lines

    # ---------------------------------------------------- traced helpers

    def span_total(self, name: str) -> float:
        return sum(self_times(self.tracer.spans, name))

    def span_p50(self, name: str) -> float:
        vals = self_times(self.tracer.spans, name)
        return statistics.median(vals) if vals else 0.0

    def record_phases(self, phases: list[Phase], cli_phase: Phase) -> None:
        """Per-phase job, task, GC and CPU figures, jobs per CLI query and
        the tracing overhead, once every phase of the traced run is done."""
        for ph in phases:
            for k, v in ph.metrics().items():
                self.layer[k] = v
        jobs, _tasks = self.probe.jobs_and_tasks(cli_phase.group)
        cli_queries = sum(1 for s in self.tracer.spans if s["name"] == "cli.s")
        self.layer["spark.jobs_per_query"] = (jobs / max(1, cli_queries), "count")
        self.layer["trace.overhead_frac"] = (
            _overhead_frac(self.tracer, [*phases, cli_phase]), "ratio")

    def search_layers(self, archive: str, queries: list[dict], phase: Phase,
                      cli_phase: Phase) -> None:
        """Library path of `s` for every query in the mix (compile, then the
        action on search_archive(compiled=)), plus the same query through the
        CLI for cli.overhead_s."""
        from clp_spark.operators.search import (
            candidate_logtype_ids,
            compile_query,
            search_archive,
        )

        spark = self.spark
        raw = spark.read.option("basePath", f"{archive}/sinks").parquet(f"{archive}/sinks")
        sinks = raw
        if "doc_id" not in raw.columns:  # text-log archives key by file/msg
            sinks = raw.withColumn("doc_id", F.concat_ws("#", "file_id", "msg_ix")) \
                       .withColumn("source", F.col("file_id"))
        lt = spark.read.parquet(f"{archive}/logtype_dict")
        vd = spark.read.parquet(f"{archive}/var_dict")
        hits = cands = 0
        overhead = []
        for q in queries:
            wq = expect.search_substring(q["query"])
            with phase.active():
                with self.tracer.span("operators.search.compile"):
                    compile_s, compiled = self.op(
                        f"compile {q['name']}", lambda: compile_query(wq, lt, vd))
                if compiled is None:
                    continue
                with self.tracer.span("operators.search.exec") as c:
                    res = search_archive(sinks, lt, vd, wq, compiled=compiled)
                    exec_s, rows = self.op(
                        f"search {q['name']}", lambda: res.select("message").collect(),
                        q["expect"]["hits"], len)
                    c["rows_out"] = len(rows or [])
                ids = candidate_logtype_ids(compiled)
                if ids is None:
                    cand = raw.count()
                elif ids:
                    cand = raw.where(F.col("logtype_id").isin(ids)).count()
                else:
                    cand = 0
            hits += len(rows or [])
            cands += cand
            if q["flags"] or len(overhead) >= self.CLI_OVERHEAD_QUERIES:
                continue
            with cli_phase.active(), self.tracer.span("cli.s"):
                cli_s, _ = self.op(
                    f"s {q['name']}", lambda: self.cli("s", archive, q["query"]),
                    {k: q["expect"][k] for k in ("lines", "sha256")}, expect.output_digest)
            overhead.append(cli_s - compile_s - exec_s)
        self.layer["operators.search.compile_s"] = (self.span_p50("operators.search.compile"), "s")
        execs = self_times(self.tracer.spans, "operators.search.exec")
        self.layer["operators.search.exec_p50_s"] = (statistics.median(execs), "s")
        self.layer["operators.search.exec_p90_s"] = (_p90(execs), "s")
        self.layer["operators.search.verify_precision"] = (
            hits / cands if cands else 1.0, "ratio")
        self.layer["cli.overhead_s"] = (statistics.median(overhead), "s")

    def search_op(self, archive: str, q: dict) -> float:
        """One `s` query through the CLI, checked against the generator."""
        dt, _ = self.op(
            f"s {q['name']}", lambda: self.cli("s", archive, q["query"], *q["flags"]),
            {k: q["expect"][k] for k in ("lines", "sha256")}, expect.output_digest)
        return dt


def _unit(metric: str) -> str:
    if metric.endswith("_s") or ".gc_s." in metric:
        return "s"
    if metric.startswith(("spark.", "plans.pipeline.logtypes", "plans.pipeline.variables")):
        return "count"
    if metric.endswith("rows_per_s_1core"):
        return "rows/s"
    return "ratio"


def _reap_descendants() -> None:
    """Terminate and wait for any process this run left behind."""
    import signal

    me = os.getpid()
    for _ in range(2):
        rest = [p for p in process_tree() if p != me]
        if not rest:
            return
        for pid in rest:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGTERM)
        deadline = time.time() + 20
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in rest):
            for pid in rest:
                with contextlib.suppress(ChildProcessError, OSError):
                    os.waitpid(pid, os.WNOHANG)
            time.sleep(0.1)


# ------------------------------------------------------------ seq_pipeline


class SeqPipeline(Workload):
    """Sequences table → run_pipeline (encode → dicts → route → agg), `s`
    over the routed sinks, decode of the sinks."""

    name = "seq_pipeline"
    SPLITS = 4
    EXTRACT_EVERY = 2

    def _pipeline(self, seq_path: str, out: str) -> dict:
        from clp_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, seq_path, self.truth["vocab"], out, self.SPLITS)

    def _decode_df(self, out: str):
        from clp_spark.operators.decode import decode_df
        from clp_spark.plans.pipeline import read_sinks

        lt = self.spark.read.parquet(f"{out}/logtype_dict").select("logtype_id", "logtype")
        sinks = read_sinks(self.spark, out).join(F.broadcast(lt), "logtype_id")
        return decode_df(sinks, ["doc_id"])

    def _decode_checksum(self, out: str) -> dict:
        row = self._decode_df(out).agg(
            F.count("*").alias("rows"),
            F.sum(F.crc32(F.concat("doc_id", F.lit("\x00"), "message").cast("binary")))
            .alias("crc_sum"),
        ).collect()[0]
        return {"rows": int(row["rows"]), "crc_sum": int(row["crc_sum"] or 0)}

    def _check_routed(self, name: str, out: str) -> None:
        """Every input row reached exactly one sink (untimed)."""
        self.op(f"{name} rows", lambda: int(
            self.spark.read.parquet(f"{out}/agg/sink_counts")
            .agg(F.sum("n_rows")).collect()[0][0] or 0), self.truth["records"])

    def warm_up(self) -> None:
        warm = self.fresh("warm-pipeline")
        self._pipeline(self.truth["warm_sequences"], warm)
        self._decode_checksum(warm)
        self.cli("s", warm, self.truth["warm_query"])

    def ingest(self) -> float:
        self.out = self.archive = self.fresh("pipeline")
        dt, _ = self.op("run_pipeline", lambda: self._pipeline(self.truth["sequences"], self.out))
        self._check_routed("run_pipeline", self.out)
        self.logtypes = self.spark.read.parquet(f"{self.out}/logtype_dict").count()
        return dt

    def extract(self) -> float:
        return self.op("decode", lambda: self._decode_checksum(self.out), self.truth["decode"])[0]

    def stored_bytes(self) -> int:
        return dir_bytes(*(os.path.join(self.out, d)
                           for d in ("sinks", "logtype_dict", "var_dict")))

    def traced_layers(self) -> None:
        from clp_spark.functions.arrow_kernel import detok_encode_df
        from clp_spark.plans.lineage import LineageLog
        from clp_spark.plans.pipeline import (
            agg_stage,
            dicts_stage,
            encode_stage,
            route_stage,
        )

        spark, tr = self.spark, self.tracer
        seq, vocab_path = self.truth["sequences"], self.truth["vocab"]
        ingest, query, cli_q, extract = (
            Phase(self.probe, n, self.nproc) for n in ("ingest", "query", "query_cli", "extract"))
        out = self.out = self.fresh("pipeline")
        with ingest.active(), tr.span("plans.pipeline.run_pipeline") as c:
            lineage = LineageLog(out)
            with tr.span("plans.pipeline.encode_stage"):
                encode_stage(spark, seq, vocab_path, out, self.SPLITS, lineage)
            with tr.span("plans.pipeline.dicts_stage"):
                dicts_stage(spark, out, lineage)
            with tr.span("plans.pipeline.route_stage"):
                route_stage(spark, out, self.SPLITS, lineage)
            with tr.span("plans.pipeline.agg_stage"):
                agg_stage(spark, out, lineage)
            c["rows_in"] = self.truth["records"]
            c["bytes_written"] = self.stored_bytes()
        self._check_routed("pipeline stages", out)
        dicts = next(r for r in lineage.read_all() if r["stage"] == "dicts")
        self.logtypes = dicts["logtypes"]
        for st in ("encode", "dicts", "route", "agg"):
            self.layer[f"plans.pipeline.{st}_stage_s"] = (
                self.span_total(f"plans.pipeline.{st}_stage"), "s")
        self.layer["plans.pipeline.logtypes"] = (dicts["logtypes"], "count")
        self.layer["plans.pipeline.variables"] = (dicts["variables"], "count")

        vocab = [r["text"] for r in spark.read.parquet(vocab_path).orderBy("token_id").collect()]
        cols = ["doc_id", "source", "n_tok"]
        with ingest.active():
            with tr.span("pipeline.scan"):
                _noop(spark.read.parquet(seq).select(*cols, "tokens"))
            with tr.span("functions.arrow_kernel.boundary"):
                df = spark.read.parquet(seq).select(*cols, "tokens")
                _noop(df.mapInArrow(lambda it: it, df.schema))
            with tr.span("functions.arrow_kernel.detok_encode"):
                _noop(detok_encode_df(spark.read.parquet(seq), vocab, cols))
        for name in ("pipeline.scan", "functions.arrow_kernel.boundary",
                     "functions.arrow_kernel.detok_encode"):
            self.layer[name + "_s"] = (self.span_total(name), "s")
        self.layer["functions.arrow_kernel.rows_per_s_1core"] = (
            _kernel_rows_per_s_1core(seq, vocab), "rows/s")

        self.search_layers(out, self.truth["queries"], query, cli_q)
        with extract.active():
            with tr.span("operators.decode.decode"):
                _noop(self._decode_df(out))
            self.op("decode", lambda: self._decode_checksum(out), self.truth["decode"])
        self.layer["operators.decode.decode_s"] = (self.span_total("operators.decode.decode"), "s")
        self.record_phases([ingest, query, extract], cli_q)


def _kernel_rows_per_s_1core(seq_dir: str, vocab: list[str]) -> float:
    """Spark-free detok+encode kernel on one shard, best of 3 (the bench.py
    calibration recipe); a low figure flags a contended host."""
    import glob

    import pyarrow.parquet as pq

    from clp_spark.functions.arrow_kernel import (
        encode_core,
        encoded_arrays_from_core,
        tokens_to_buffer,
        vocab_pieces_with_sep,
    )

    vp = vocab_pieces_with_sep(vocab)
    tbl = pq.read_table(sorted(glob.glob(os.path.join(seq_dir, "part-*.parquet")))[0])
    tokens = tbl.column("tokens").combine_chunks()
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        buf, ms, me = tokens_to_buffer(tokens, vp)
        encoded_arrays_from_core(encode_core(buf, ms, me))
        best = max(best, tbl.num_rows / (time.perf_counter() - t0))
    return best


def _overhead_frac(tracer: Tracer, phases: list[Phase]) -> float:
    """Time spent in the tracing itself (span bookkeeping and the /proc and
    py4j probes of each phase) over the traced wall it was added to."""
    wall = sum(p.wall for p in phases)
    cost = sum(p.probe_s for p in phases) + tracer.bookkeeping_s
    return cost / (wall - cost) if wall > cost else 0.0


# ------------------------------------------------------------ text_archive


class TextArchive(Workload):
    """Text logs → `c`, a fixed `s` mix, `x --output`."""

    name = "text_archive"
    EXTRACT_EVERY = 3

    def _compress(self, inputs: list[str], archive: str) -> dict:
        out = self.cli("c", archive, *inputs)
        return json.loads(expect.output_lines(out)[-1])

    def _extract_ok(self, out_dir: str) -> bool:
        """`x` output equals the input files byte for byte."""
        for path in self.truth["inputs"]:
            with open(path, "rb") as a, open(os.path.join(out_dir, os.path.basename(path)), "rb") as b:
                if a.read() != b.read():
                    return False
        return sorted(os.listdir(out_dir)) == sorted(
            os.path.basename(p) for p in self.truth["inputs"])

    def warm_up(self) -> None:
        warm = self.fresh("warm-archive")
        self._compress(self.truth["warm_inputs"], warm)
        q = self.truth["warm_query"]
        self.cli("s", warm, q)
        self.cli("s", warm, q, "--count-by-time", "60000")
        self.cli("x", warm, "-o", self.fresh("warm-extract"))

    def ingest(self) -> float:
        self.archive = self.fresh("archive")
        dt, summary = self.op(
            "c", lambda: self._compress(self.truth["inputs"], self.archive),
            self.truth["records"], lambda s: s["messages"])
        self.logtypes = (summary or {}).get("logtypes")
        return dt

    def extract(self) -> float:
        out = self.fresh("extract")
        return self.op("x", lambda: self.cli("x", self.archive, "-o", out),
                       True, lambda _r: self._extract_ok(out))[0]

    def stored_bytes(self) -> int:
        return dir_bytes(self.archive)

    def traced_layers(self) -> None:
        from clp_spark.operators.decode import decode_df
        from clp_spark.sources.logfiles import compress_text_logs, extract_to_files

        spark, tr = self.spark, self.tracer
        ingest, query, cli_q, extract = (
            Phase(self.probe, n, self.nproc) for n in ("ingest", "query", "query_cli", "extract"))
        archive = self.archive = self.fresh("archive")
        with ingest.active(), tr.span("sources.logfiles.compress_text_logs") as c:
            _, summary = self.op(
                "compress_text_logs",
                lambda: compress_text_logs(spark, self.truth["inputs"], archive),
                self.truth["records"], lambda s: s["messages"])
            self.logtypes = (summary or {}).get("logtypes")
            c["rows_in"] = self.truth["records"]
            c["bytes_written"] = dir_bytes(archive)
        self.layer["sources.logfiles.compress_text_logs_s"] = (
            self.span_total("sources.logfiles.compress_text_logs"), "s")

        self.search_layers(archive, self.truth["queries"], query, cli_q)

        out = self.fresh("extract")
        with extract.active():
            with tr.span("sources.logfiles.extract_to_files"):
                self.op("extract_to_files", lambda: extract_to_files(spark, archive, out),
                        True, lambda _r: self._extract_ok(out))
            with tr.span("operators.decode.decode"):
                sinks = spark.read.option("basePath", f"{archive}/sinks").parquet(f"{archive}/sinks")
                lt = spark.read.parquet(f"{archive}/logtype_dict").select("logtype_id", "logtype")
                _noop(decode_df(sinks.join(F.broadcast(lt), "logtype_id"), ["file_id", "msg_ix"]))
        for name in ("sources.logfiles.extract_to_files", "operators.decode.decode"):
            self.layer[name + "_s"] = (self.span_total(name), "s")
        self.record_phases([ingest, query, extract], cli_q)


WORKLOADS = {w.name: w for w in (SeqPipeline, TextArchive)}
