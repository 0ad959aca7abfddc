"""Federated multi-archive search (`clg <archives-dir>`): one Spark job over
many archives, exact parity with per-archive `search_archive`, archive-level
time pruning, segment-index composition."""

import pytest
from pyspark.sql import functions as F

from clp_spark.functions.arrow_kernel import encode_df
from clp_spark.operators.dictionary import assign_sorted_ids
from clp_spark.operators.federation import (
    _segment_hits,
    discover_archives,
    prune_archives_by_time,
    read_archive_metadata,
    search_archives,
    write_archive_metadata,
)
from clp_spark.operators.search import search_archive
from clp_spark.operators.seg_index import write_segment_index
from clp_spark.sources.logfiles import compress_text_logs

# two text archives with disjoint time windows
LOGS_A = """\
2016-05-08 07:34:05,251 INFO starting job 42
2016-05-08 07:34:06,002 WARN slow response 120 ms from node-7
2016-05-08 07:34:07,000 ERROR failed after 0.75 s hash deadbeef
"""
LOGS_B = """\
2017-11-02 09:00:00,000 INFO starting job 99
2017-11-02 09:00:01,500 WARN slow response 95 ms from node-3
2017-11-02 09:00:02,000 INFO unrelated shape here
"""


@pytest.fixture(scope="module")
def archives_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("archives")
    for name, content in (("arch_a", LOGS_A), ("arch_b", LOGS_B)):
        src = root / f"{name}.log"
        src.write_text(content)
        out = str(root / name)
        compress_text_logs(spark, str(src), out)
        write_archive_metadata(spark, out)
    # a tokens-pipeline-style archive: split-partitioned + seg_index, no ts
    rows = [
        (0, 0, "x", "rare marker event"),
        (1, 0, "x", "common event number 1"),
        (2, 1, "y", "common event number 2"),
        (3, 1, "y", "starting job 7"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, split int, source string, message string"
    )
    enc = encode_df(docs, ["doc_id", "split", "source"], "message")
    lt = assign_sorted_ids(enc.select("logtype"), "logtype", "logtype_id")
    vd = assign_sorted_ids(
        enc.select(F.explode("dict_vars").alias("var_value")), "var_value", "var_id"
    )
    out = str(root / "arch_c")
    sinks = enc.join(F.broadcast(lt.select("logtype", "logtype_id")), "logtype")
    (
        sinks.select("doc_id", "split", "source", "logtype_id",
                     "placeholders", "encoded_vars", "dict_vars")
        .write.mode("overwrite").partitionBy("split")
        .parquet(f"{out}/sinks")
    )
    lt.write.mode("overwrite").parquet(f"{out}/logtype_dict")
    vd.write.mode("overwrite").parquet(f"{out}/var_dict")
    write_segment_index(spark, out)
    write_archive_metadata(spark, out)
    return str(root)


def _per_archive_union(spark, archives_dir, query, ignore_case=False):
    """Expected result: run the single-archive lifecycle per archive."""
    out = set()
    for aid, path in discover_archives(archives_dir):
        sinks = spark.read.option("basePath", f"{path}/sinks").parquet(
            f"{path}/sinks"
        )
        if "doc_id" not in sinks.columns:
            sinks = sinks.withColumn(
                "doc_id", F.concat_ws("#", "file_id", "msg_ix")
            ).withColumn("source", F.col("file_id"))
        lt = spark.read.parquet(f"{path}/logtype_dict")
        vd = spark.read.parquet(f"{path}/var_dict")
        res = search_archive(sinks, lt, vd, query, ignore_case)
        for r in res.collect():
            out.add((aid, str(r["doc_id"]), r["message"]))
    return out


def _fed(df):
    return {(r["archive_id"], r["doc_id"], r["message"]) for r in df.collect()}


@pytest.mark.parametrize(
    "query",
    [
        "*starting job*",          # cross-archive logtype
        "*slow response * ms*",    # int var wildcard
        "*job 42*",                # exact int var, single archive
        "*rare marker*",           # only in the seg-indexed archive
        "*deadbeef*",              # dict var (hex)
        "starting job 99",         # exact, no wildcards -> no_verify path
        "*nosuchthing*",           # no match anywhere
        "*",                       # MATCH_ALL
    ],
)
def test_parity_with_per_archive_search(spark, archives_dir, query):
    assert _fed(search_archives(spark, archives_dir, query)) == _per_archive_union(
        spark, archives_dir, query
    )


def test_ignore_case_parity(spark, archives_dir):
    q = "*STARTING JOB*"
    assert _fed(
        search_archives(spark, archives_dir, q, ignore_case=True)
    ) == _per_archive_union(spark, archives_dir, q, ignore_case=True)
    # and case-sensitive finds nothing
    assert search_archives(spark, archives_dir, q).count() == 0


def test_metadata_written(spark, archives_dir):
    meta = read_archive_metadata(f"{archives_dir}/arch_a")
    assert meta["messages"] == 3
    # 2016-05-08 07:34:05 UTC < begin <= end
    assert meta["begin_ts_ms"] <= meta["end_ts_ms"]
    assert meta["begin_ts_ms"] > 1_400_000_000_000
    # token archive has no timestamps
    assert read_archive_metadata(f"{archives_dir}/arch_c")["begin_ts_ms"] is None


def test_time_pruning_drops_archives(archives_dir):
    archives = discover_archives(archives_dir)
    assert [a for a, _ in archives] == ["arch_a", "arch_b", "arch_c"]
    # a 2017-only window: arch_a (2016) drops, arch_c (no ts) is kept
    lo = 1_500_000_000_000
    kept = [a for a, _ in prune_archives_by_time(archives, lo, None)]
    assert kept == ["arch_b", "arch_c"]
    # a window before everything keeps only the ts-less archive
    kept = [a for a, _ in prune_archives_by_time(archives, None, 1_000)]
    assert kept == ["arch_c"]
    # no bounds = no pruning
    assert prune_archives_by_time(archives, None, None) == archives


def test_time_pruned_search_results(spark, archives_dir):
    # 'starting job' occurs in all three archives; a 2017 window must
    # return only arch_b's and arch_c's (ts-less, unprunable) hits
    res = search_archives(
        spark, archives_dir, "*starting job*", ts_lo=1_500_000_000_000
    )
    got = _fed(res)
    assert {a for a, _, _ in got} == {"arch_b", "arch_c"}
    full = _per_archive_union(spark, archives_dir, "*starting job*")
    assert got == {t for t in full if t[0] != "arch_a"}


def test_result_schema_on_empty(spark, archives_dir):
    res = search_archives(spark, archives_dir, "*nosuchthing*")
    assert res.columns == [
        "archive_id", "doc_id", "source", "logtype_id", "ts_ms", "message"
    ]
    assert res.count() == 0


def test_ts_ms_carried_for_text_archives(spark, archives_dir):
    rows = search_archives(spark, archives_dir, "*job 42*").collect()
    assert len(rows) == 1
    assert rows[0]["archive_id"] == "arch_a"
    assert rows[0]["ts_ms"] is not None


def test_per_message_time_filter(spark, archives_dir):
    # a window covering only arch_a's first message: begin..begin
    begin = read_archive_metadata(f"{archives_dir}/arch_a")["begin_ts_ms"]
    res = search_archives(
        spark, archives_dir, "*job*", ts_lo=begin, ts_hi=begin
    )
    got = _fed(res)
    # arch_a's first message matches; arch_b pruned (2017 > window);
    # arch_c is ts-less so its 'starting job 7' row is kept (superset rule)
    assert {t[0] for t in got} == {"arch_a", "arch_c"}
    assert sum(1 for t in got if t[0] == "arch_a") == 1
    assert "starting job 42" in next(t[2] for t in got if t[0] == "arch_a")


def test_cli_archives_dir_mode(spark, archives_dir, capsys):
    from clp_spark.cli import main

    main(["s", archives_dir, "*starting job*", "--count"])
    assert capsys.readouterr().out.strip() == "3"
    main(["s", archives_dir, "*starting job*", "--tge", "1500000000000",
          "--count"])
    assert capsys.readouterr().out.strip() == "2"  # arch_b + ts-less arch_c


def test_candidate_query_reads_logtype_dicts_once(spark, archives_dir):
    """The candidate table carries each logtype string, so the decode
    needs no second scan or broadcast of the member dictionaries."""
    res = search_archives(spark, archives_dir, "*starting job*")
    plan = res._sc._jvm.PythonSQLUtils.explainString(
        res._jdf.queryExecution(), "formatted"
    )
    assert "logtype_dict" not in plan, plan
    assert _fed(res) == _per_archive_union(spark, archives_dir, "*starting job*")


def test_segment_hits_prune_split_dirs(spark, archives_dir):
    archives = discover_archives(archives_dir)
    # candidate = arch_c's 'rare marker event' logtype (lives only in split 0)
    lt = spark.read.parquet(f"{archives_dir}/arch_c/logtype_dict")
    rare = lt.where(F.col("logtype").like("rare marker event")).select(
        F.lit("arch_c").alias("archive_id"), "logtype_id"
    )
    hits = _segment_hits(spark, archives, rare)
    assert hits == {"arch_c": [0]}


def test_discover_skips_staging_and_hidden(tmp_path):
    """An in-flight _staging dir (it has a sinks/ subdir while a concurrent
    or crashed compression is mid-write) must never be searched as an
    archive — its rows would duplicate every renamed message."""
    import os

    for name in ("arch-00000", "_staging", ".hidden"):
        os.makedirs(tmp_path / name / "sinks")
    got = discover_archives(str(tmp_path))
    assert [aid for aid, _ in got] == ["arch-00000"]
