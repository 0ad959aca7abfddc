"""Physical-plan assertions: the optimizations we claim must appear in the
actual Catalyst plans — broadcast hash joins for dict enrich, parquet filter
pushdown, two-phase (partial/final) aggregation, JVM-only predicates."""

import pyspark.sql.functions as F
import pytest

from clp_spark.operators.dictionary import assign_sorted_ids, enrich_with_logtype_ids
from clp_spark.operators.kql import compile_kql
from clp_spark.operators.subseq import contains_ordered_subsequence


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


class TestPlanShapes:
    def test_dict_enrich_is_broadcast_join(self, spark, events):
        dict_df = assign_sorted_ids(events.select("event_type"), "event_type", "type_id")
        joined = events.join(F.broadcast(dict_df), "event_type")
        assert "BroadcastHashJoin" in plan_of(joined)

    def test_logtype_enrich_broadcast(self, spark):
        from clp_spark.oracle import encode_message

        logtypes = [encode_message(m).logtype for m in ["a 1", "b 2"]]
        sinks = spark.createDataFrame([(lt,) for lt in logtypes], "logtype string")
        lt = spark.createDataFrame(
            [(lt, i) for i, lt in enumerate(logtypes)], "logtype string, logtype_id long"
        )
        assert "BroadcastHashJoin" in plan_of(enrich_with_logtype_ids(sinks, lt))

    def test_parquet_filter_pushdown(self, spark, events):
        q = events.where(F.col("event_type") == "error").select("event_id")
        plan = plan_of(q)
        assert "PushedFilters" in plan
        assert "EqualTo(event_type,error)" in plan or "event_type" in plan.split(
            "PushedFilters"
        )[1].splitlines()[0]

    def test_column_pruning(self, spark, events):
        q = events.where(F.col("event_type") == "error").select("event_id")
        plan = plan_of(q)
        read_schema = plan.split("ReadSchema")[1].splitlines()[0]
        assert "event_id" in read_schema
        assert "props" not in read_schema  # unused column must not be read

    def test_groupby_is_two_phase(self, spark, events):
        q = events.groupBy("event_type").agg(F.count("*").alias("n"))
        plan = plan_of(q)
        assert plan.count("HashAggregate") >= 2  # partial (map-side) + final

    def test_kql_predicate_is_jvm_only(self, spark, events):
        pred = compile_kql(events, "event_type: error AND value > 50")
        plan = plan_of(events.where(pred))
        assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython

    def test_subsequence_predicate_is_jvm_only(self, spark):
        df = spark.range(1).select(F.split(F.lit("a,b,c"), ",").alias("arr"))
        q = df.where(contains_ordered_subsequence(F.col("arr"), ["a", "c"]))
        assert "Python" not in plan_of(q)

    def test_takeordered_for_latest_n(self, spark, events):
        from clp_spark.operators.aggregate import latest_n

        q = latest_n(events, F.col("ts"), 10, F.col("event_id"))
        assert "TakeOrderedAndProject" in plan_of(q)  # no full sort

    def test_variant_schema_inference_is_jvm_only(self, spark):
        """The v2 schema-route path must contain no Python eval at all —
        parse_json/schema_of_variant/variant_get are JVM expressions."""
        from clp_spark.operators.json_schema import schema_map, with_schema_id_v2

        df = spark.createDataFrame(
            [('{"k": 1}',), ('{"k": 2, "s": "a b"}',)], "raw string"
        )
        q = schema_map(with_schema_id_v2(df))
        plan = plan_of(q)
        # (createDataFrame's ExistingRDD scan mentions 'PythonRDD' — that's
        # the local test input, not an eval node)
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"):
            assert node not in plan

    def test_lsh_jaccard_pinned_broadcast(self, spark):
        """With broadcast_pairs pinned, the pair-restricted Jaccard shows a
        broadcast join on the candidate set; the default leaves the choice
        to AQE (the candidate set is near-linear in corpus size, so a
        forced broadcast would not survive 100 TB)."""
        from clp_spark.operators.dedup import jaccard_on_pairs, minhash_lsh_candidates

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        pairs = minhash_lsh_candidates(docs, "doc_id", "text", 8, 4)
        q = jaccard_on_pairs(docs, pairs, "doc_id", "text", broadcast_pairs=True)
        assert "BroadcastHashJoin" in plan_of(q)

    def test_decode_path_is_maparrow(self, spark):
        """Decode runs as one ArrowEvalPython-free mapInArrow stage (the
        PythonMapInArrow node), not per-row UDF eval."""
        from clp_spark.functions.arrow_kernel import encode_df
        from clp_spark.operators.decode import decode_df

        docs = spark.createDataFrame([(1, "a 1")], "doc_id long, message string")
        enc = encode_df(docs, ["doc_id"], "message")
        plan = plan_of(decode_df(enc, ["doc_id"]))
        assert "MapInArrow" in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestSearchPlanParity:
    def test_archive_dir_plan_matches_library_search(self, spark, tmp_path):
        """`search_archive_dir` on a plain text archive runs the same
        physical plan as `search_archive` over sinks read as the
        benchmark's library path reads them, so the CLI's overhead over
        the library is overhead, not a different plan."""
        import re

        from clp_spark.operators.federation import read_archive_metadata
        from clp_spark.operators.search import (
            compile_query,
            search_archive,
            search_archive_dir,
        )
        from clp_spark.sources.logfiles import compress_text_logs

        log = tmp_path / "a.log"
        log.write_text("".join(
            f"2024-01-01 00:00:{i:02d} task {i} started on node-{i % 3}\n"
            for i in range(20)
        ))
        arch = str(tmp_path / "arch")
        compress_text_logs(spark, str(log), arch)
        query = "*task 1*"

        raw = spark.read.option("basePath", f"{arch}/sinks").parquet(f"{arch}/sinks")
        sinks = raw.withColumn("doc_id", F.concat_ws("#", "file_id", "msg_ix")) \
                   .withColumn("source", F.col("file_id"))
        lt = spark.read.parquet(f"{arch}/logtype_dict")
        vd = spark.read.parquet(f"{arch}/var_dict")
        lib = search_archive(sinks, lt, vd, query,
                             compiled=compile_query(query, lt, vd),
                             ts_patterns=read_archive_metadata(arch)["ts_patterns"])
        res, pruned = search_archive_dir(spark, arch, query)

        def norm(df):
            p = re.sub(r"#\d+L?", "#N", plan_of(df))
            return re.sub(r"plan_id=\d+", "plan_id=N", p)

        assert pruned is None
        assert norm(res) == norm(lib)
        # the archive holds one timestamp pattern: one re-render branch
        assert norm(res).count("date_format(") == 1
        assert sorted(r["message"] for r in res.collect()) == sorted(
            r["message"] for r in lib.collect()
        )


class TestBloomFilters:
    def test_bloom_filter_options_write_real_filters(self, spark, tmp_path):
        """bloom_filter_options produces parquet files that actually carry
        bloom filter bytes (size delta ≈ ndv bits/8 per column chunk) — the
        CLP per-column BloomFilter analog at the storage layer."""
        import glob
        import os

        from clp_spark.plans.pipeline import bloom_filter_options

        df = spark.range(50000).selectExpr("uuid() AS k", "id AS v").coalesce(1)
        sizes = {}
        for name, opts in [("plain", {}),
                           ("bloom", bloom_filter_options(["k"], 50000))]:
            out = str(tmp_path / name)
            w = df.write.mode("overwrite")
            for key, val in opts.items():
                w = w.option(key, val)
            w.parquet(out)
            sizes[name] = sum(
                os.path.getsize(p) for p in glob.glob(out + "/part-*.parquet")
            )
        # a 50k-ndv bloom filter is tens of KB; plain jitter is far smaller
        assert sizes["bloom"] - sizes["plain"] > 20_000


class TestJvmTuning:
    def _opts(self, mem):
        from pyspark.sql import SparkSession

        from clp_spark.plans.pipeline import _jvm_tuning

        b = SparkSession.Builder().config("spark.driver.memory", mem)
        out = _jvm_tuning(b)
        return dict(out._options)

    def test_xms_never_exceeds_xmx(self):
        import re

        opts = self._opts("256m")
        m = re.search(r"-Xms(\d+)m", opts["spark.driver.extraJavaOptions"])
        assert m and int(m.group(1)) <= 256

    def test_k_suffix_does_not_emit_zero_or_oversized_xms(self):
        opts = self._opts("524288k")  # 512 MB expressed in KB
        ija = opts["spark.driver.extraJavaOptions"]
        import re

        m = re.search(r"-Xms(\d+)m", ija)
        if m:
            assert 0 < int(m.group(1)) <= 512
