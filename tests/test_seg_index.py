"""Segment-index pruning: dict-entry → segment sets select which split dirs
a search opens (reference Query.cpp calculate_ids_of_matching_segments)."""

import pytest
from pyspark.sql import functions as F

from clp_spark.functions.arrow_kernel import encode_df
from clp_spark.operators.dictionary import assign_sorted_ids
from clp_spark.operators.search import search_archive_dir
from clp_spark.operators.seg_index import write_segment_index


@pytest.fixture(scope="module")
def archive(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("arch"))
    rows = [
        # (doc_id, split, source, message) — 'rare marker event' only in split 0
        (0, 0, "a", "rare marker event"),
        (1, 0, "a", "common event number 1"),
        (2, 0, "b", "common event number 2"),
        (3, 1, "a", "common event number 3"),
        (4, 1, "b", "common event number 4"),
        (5, 1, "b", "another shape entirely"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, split int, source string, message string"
    )
    enc = encode_df(docs, ["doc_id", "split", "source"], "message")
    logtype_dict = assign_sorted_ids(enc.select("logtype"), "logtype", "logtype_id")
    var_dict = assign_sorted_ids(
        enc.select(F.explode("dict_vars").alias("var_value")), "var_value", "var_id"
    )
    sinks = enc.join(F.broadcast(logtype_dict.select("logtype", "logtype_id")), "logtype")
    (
        sinks.select("doc_id", "split", "source", "logtype_id",
                     "placeholders", "encoded_vars", "dict_vars")
        .write.mode("overwrite").partitionBy("split", "source")
        .parquet(f"{out}/sinks")
    )
    logtype_dict.write.mode("overwrite").parquet(f"{out}/logtype_dict")
    var_dict.write.mode("overwrite").parquet(f"{out}/var_dict")
    write_segment_index(spark, out)
    return out


def test_rare_logtype_prunes_to_one_segment(spark, archive):
    res, segments = search_archive_dir(spark, archive, "*rare marker*")
    assert segments == [0]  # only split 0 is opened
    assert [r["doc_id"] for r in res.collect()] == [0]


def test_common_logtype_reads_both_segments(spark, archive):
    res, segments = search_archive_dir(spark, archive, "*common event*")
    assert segments == [0, 1]
    assert sorted(r["doc_id"] for r in res.collect()) == [1, 2, 3, 4]


def test_match_all_is_unpruned(spark, archive):
    res, segments = search_archive_dir(spark, archive, "*")
    assert segments is None
    assert res.count() == 6


def test_no_match_prunes_everything(spark, archive):
    res, segments = search_archive_dir(spark, archive, "*absentword*")
    assert segments == []
    assert res.count() == 0


def test_var_query_still_correct_under_pruning(spark, archive):
    # 'number 3' has an int var; logtype is shared across splits → both read,
    # exactness from the ordered-var filter + final verify
    res, segments = search_archive_dir(spark, archive, "*number 3*")
    assert segments == [0, 1]
    assert [r["doc_id"] for r in res.collect()] == [3]
