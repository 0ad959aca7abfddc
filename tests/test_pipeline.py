"""End-to-end pipeline parity vs the pure-Python oracle + resume semantics."""

import collections
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from clp_spark.oracle import decode_message, encode_message
from clp_spark.plans.lineage import LineageLog
from clp_spark.plans.pipeline import run_pipeline
from clp_spark.sources.synth import build_vocab, generate_sequences

N_ROWS = 1500


@pytest.fixture(scope="module")
def tiny_input(tmp_path_factory):
    d = tmp_path_factory.mktemp("seq")
    vocab = build_vocab()
    seqs = generate_sequences(N_ROWS)
    vocab_path = str(d / "vocab.parquet")
    seq_path = str(d / "sequences.parquet")
    vocab.to_parquet(vocab_path, index=False)
    seqs.to_parquet(seq_path, index=False)
    return seq_path, vocab_path, vocab, seqs


def oracle_encode_all(vocab, seqs):
    """Reference result: detokenize + encode each row with the pure-Python oracle."""
    vtext = np.asarray(vocab["text"], dtype=object)
    rows = []
    for doc_id, toks, source in zip(seqs["doc_id"], seqs["tokens"], seqs["source"]):
        msg = "".join(vtext[np.asarray(toks, dtype=np.int64)])
        enc = encode_message(msg)
        rows.append((doc_id, source, msg, enc))
    return rows


@pytest.fixture(scope="module")
def pipeline_out(spark, tiny_input, tmp_path_factory):
    seq_path, vocab_path, vocab, seqs = tiny_input
    out = str(tmp_path_factory.mktemp("pipe"))
    run_pipeline(spark, seq_path, vocab_path, out, num_splits=2)
    return out


class TestPipelineParity:
    def test_sink_counts(self, spark, tiny_input, pipeline_out):
        _, _, vocab, seqs = tiny_input
        expected = collections.Counter(seqs["source"])
        got = {
            r["source"]: r["n_rows"]
            for r in spark.read.parquet(f"{pipeline_out}/agg/sink_counts").collect()
        }
        assert got == dict(expected)

    def test_logtype_counts_match_oracle(self, spark, tiny_input, pipeline_out):
        _, _, vocab, seqs = tiny_input
        oracle_rows = oracle_encode_all(vocab, seqs)
        expected = collections.Counter(
            (source, enc.logtype) for _, source, _, enc in oracle_rows
        )
        lt = {
            r["logtype_id"]: r["logtype"]
            for r in spark.read.parquet(f"{pipeline_out}/logtype_dict").collect()
        }
        got = collections.Counter()
        for r in spark.read.parquet(f"{pipeline_out}/agg/logtype_counts").collect():
            got[(r["source"], lt[r["logtype_id"]])] = r["n"]
        assert got == expected

    def test_var_counts_match_oracle(self, spark, tiny_input, pipeline_out):
        _, _, vocab, seqs = tiny_input
        oracle_rows = oracle_encode_all(vocab, seqs)
        expected = collections.Counter()
        for _, source, _, enc in oracle_rows:
            for v in enc.dict_vars:
                expected[(source, v)] += 1
        got = {
            (r["source"], r["var_value"]): r["n"]
            for r in spark.read.parquet(f"{pipeline_out}/agg/var_counts").collect()
        }
        assert got == dict(expected)

    def test_row_level_token_equality_and_roundtrip(self, spark, tiny_input, pipeline_out):
        """Per-row invariant: token-array equality vs the reference encoder."""
        _, _, vocab, seqs = tiny_input
        oracle = {
            doc_id: (msg, enc) for doc_id, _, msg, enc in oracle_encode_all(vocab, seqs)
        }
        lt = {
            r["logtype_id"]: r["logtype"]
            for r in spark.read.parquet(f"{pipeline_out}/logtype_dict").collect()
        }
        rows = spark.read.option("basePath", f"{pipeline_out}/sinks").parquet(
            f"{pipeline_out}/sinks"
        ).collect()
        assert len(rows) == N_ROWS
        for r in rows:
            msg, enc = oracle[r["doc_id"]]
            assert lt[r["logtype_id"]] == enc.logtype
            assert list(r["placeholders"]) == enc.placeholders
            assert list(r["encoded_vars"]) == enc.encoded_vars
            assert list(r["dict_vars"]) == enc.dict_vars
            assert (
                decode_message(lt[r["logtype_id"]], list(r["encoded_vars"]),
                               list(r["dict_vars"]))
                == msg
            )

    def test_dict_ids_are_sorted_dense(self, spark, pipeline_out):
        for name, vcol, icol in [
            ("logtype_dict", "logtype", "logtype_id"),
            ("var_dict", "var_value", "var_id"),
        ]:
            rows = spark.read.parquet(f"{pipeline_out}/{name}").orderBy(icol).collect()
            ids = [r[icol] for r in rows]
            vals = [r[vcol] for r in rows]
            assert ids == list(range(len(ids)))
            assert vals == sorted(vals)


class TestGltRoute:
    def test_bucketed_layout_and_completeness(self, spark, pipeline_out, tmp_path):
        import os

        from clp_spark.plans.pipeline import glt_route

        encoded = spark.read.parquet(f"{pipeline_out}/encoded")
        out = str(tmp_path / "glt")
        glt_route(encoded, out, num_buckets=8)
        parts = [d for d in os.listdir(out) if d.startswith("lt_bucket=")]
        assert 1 <= len(parts) <= 8
        assert spark.read.parquet(out).count() == N_ROWS
        # same logtype always lands in the same bucket
        df = spark.read.option("basePath", out).parquet(out)
        multi = (
            df.groupBy("logtype")
            .agg(F.countDistinct("lt_bucket").alias("nb"))
            .where(F.col("nb") > 1)
            .count()
        )
        assert multi == 0


class TestGltRouteTiered:
    def test_hot_logtypes_get_own_tables(self, spark, tmp_path):
        """Combine-threshold semantics (GLTSegment.cpp:94-104): a logtype
        above the threshold share is a single table; the tail is combined."""
        import os

        import pyspark.sql.functions as F

        from clp_spark.plans.pipeline import glt_route_tiered

        rows = [("hot template <x>",)] * 800 + [
            (f"cold template {i} <y>",) for i in range(200)
        ]
        df = spark.createDataFrame(rows, ["logtype"]).withColumn(
            "payload", F.lit(1)
        )
        out = str(tmp_path / "glt_tiered")
        stats = glt_route_tiered(df, out, combine_threshold_pct=1.0, num_buckets=4)
        assert stats["total_rows"] == 1000
        assert stats["hot_logtypes"] == 1  # only the 80% template exceeds 1%
        parts = sorted(d for d in os.listdir(out) if d.startswith("lt_table="))
        singles = [p for p in parts if p.startswith("lt_table=lt-")]
        combined = [p for p in parts if p.startswith("lt_table=combined-")]
        assert len(singles) == 1 and 1 <= len(combined) <= 4
        back = spark.read.option("basePath", out).parquet(out)
        assert back.count() == 1000
        # the hot table contains exactly the hot logtype's rows
        hot_rows = back.where(F.col("lt_table").startswith("lt-"))
        assert hot_rows.count() == 800
        assert hot_rows.select("logtype").distinct().count() == 1
        # a logtype never straddles tables
        multi = (
            back.groupBy("logtype")
            .agg(F.countDistinct("lt_table").alias("nt"))
            .where(F.col("nt") > 1)
            .count()
        )
        assert multi == 0

    def test_all_cold_goes_combined(self, spark, tmp_path):
        import os

        import pyspark.sql.functions as F

        from clp_spark.plans.pipeline import glt_route_tiered

        rows = [(f"t {i} u",) for i in range(100)]
        df = spark.createDataFrame(rows, ["logtype"])
        out = str(tmp_path / "glt_cold")
        stats = glt_route_tiered(df, out, combine_threshold_pct=5.0, num_buckets=4)
        assert stats["hot_logtypes"] == 0
        parts = os.listdir(out)
        assert not any(p.startswith("lt_table=lt-") for p in parts)
        assert spark.read.parquet(out).count() == 100


class TestFileSplitting:
    def test_max_records_per_file_bounds_output_files(
        self, spark, tiny_input, tmp_path
    ):
        """Reference split_file_and_archive analog: output files are bounded
        by row count, so one hot sink can't produce a monolithic file."""
        import glob

        import pyarrow.parquet as pq

        from clp_spark.plans.lineage import LineageLog
        from clp_spark.plans.pipeline import (
            dicts_stage,
            encode_stage,
            route_stage,
        )

        seq_path, vocab_path, _, _ = tiny_input
        out = str(tmp_path / "split_out")
        lineage = LineageLog(out)
        encode_stage(spark, seq_path, vocab_path, out, 1, lineage)
        dicts_stage(spark, out, lineage)
        route_stage(spark, out, 1, lineage, max_records_per_file=20)
        files = glob.glob(f"{out}/sinks/split=0/source=*/*.parquet")
        assert len(files) > 1
        for f in files:
            assert pq.ParquetFile(f).metadata.num_rows <= 20


class TestResume:
    def test_resume_after_partial_run(self, spark, tiny_input, pipeline_out, tmp_path):
        seq_path, vocab_path, _, _ = tiny_input
        out = str(tmp_path / "resume")
        # full run, then simulate a crash: drop split 1's encode output+record
        run_pipeline(spark, seq_path, vocab_path, out, num_splits=2)
        os.remove(f"{out}/_lineage/encode_split00001.json")
        shutil.rmtree(f"{out}/encoded/split=1")
        for stale in ["dicts", "agg", "route_split00000", "route_split00001"]:
            os.remove(f"{out}/_lineage/{stale}.json")
        # resume must rebuild exactly the same sinks — no dupes, no missing rows
        run_pipeline(spark, seq_path, vocab_path, out, num_splits=2)
        a = {
            (r["source"], r["logtype_id"], r["n"])
            for r in spark.read.parquet(f"{pipeline_out}/agg/logtype_counts").collect()
        }
        b = {
            (r["source"], r["logtype_id"], r["n"])
            for r in spark.read.parquet(f"{out}/agg/logtype_counts").collect()
        }
        assert a == b
        lineage = LineageLog(out)
        total = sum(r["rows"] for r in lineage.read_all() if r["stage"] == "encode")
        assert total == N_ROWS


class TestAttachDictVarIds:
    def test_broadcast_and_shuffle_paths_agree(self, spark):
        """attach_dict_var_ids: aligned id arrays; the broadcast path and the
        large-dictionary shuffle path must produce identical results, and the
        physical plans must actually use the intended join strategies."""
        from pyspark.sql import functions as F

        from clp_spark.operators.dictionary import (
            assign_sorted_ids,
            attach_dict_var_ids,
        )

        rows = [
            (1, ["alpha1", "beta2"]),
            (2, ["beta2"]),
            (3, []),
            (4, ["gamma3", "alpha1", "gamma3"]),
        ]
        df = spark.createDataFrame(rows, "doc_id long, dict_vars array<string>")
        var_dict = assign_sorted_ids(
            df.select(F.explode("dict_vars").alias("var_value")), "var_value", "var_id"
        )
        # sorted dense ids: alpha1=0, beta2=1, gamma3=2
        b = attach_dict_var_ids(df, var_dict, ["doc_id"], broadcast=True)
        s = attach_dict_var_ids(df, var_dict, ["doc_id"], broadcast=False)
        expect = {1: [0, 1], 2: [1], 3: [], 4: [2, 0, 2]}
        for out in (b, s):
            got = {r["doc_id"]: r["dict_var_ids"] for r in out.collect()}
            assert got == expect
        assert "BroadcastHashJoin" in b._jdf.queryExecution().executedPlan().toString()
        # the shuffle path plans a shuffle join for the dictionary lookup
        splan = s._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in splan or "ShuffledHashJoin" in splan


def test_count_by_time_needs_message_timestamps(pipeline_out):
    """Token-pipeline sinks carry no per-message timestamps: `s
    --count-by-time` exits with an error that names the flag."""
    from clp_spark import cli

    with pytest.raises(SystemExit, match="--count-by-time"):
        cli.main(["s", pipeline_out, "*", "--count-by-time", "1000"])


def test_count_wins_over_count_by_time(spark, pipeline_out, capsys):
    """`s --count --count-by-time` prints the plain count (--count wins),
    so a token-pipeline archive without timestamps still answers it."""
    from clp_spark import cli

    cli.main(["s", pipeline_out, "*", "--count"])
    want = capsys.readouterr().out.split()
    cli.main(["s", pipeline_out, "*", "--count", "--count-by-time", "1000"])
    assert capsys.readouterr().out.split() == want
