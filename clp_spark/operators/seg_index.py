"""Segment-index pruning: per-dictionary-entry segment-id sets.

Reference: CLP stores, for every dictionary entry, the ids of the segments
it occurs in (clp/Query.hpp:137-139) and intersects/unions those sets at
query compile time (Query.cpp calculate_ids_of_matching_segments) so only
segments that can contain a match are ever opened.

Spark analog: our archive's segment is the ingest **split directory**
(out_dir/sinks/split=b/...). The index is a tiny (logtype_id, segment)
table — O(distinct logtypes × splits), built in one column-pruned pass and
stored next to the dictionaries. At query time the compiled candidate
logtype ids select segment ids, and the scan lists ONLY those split
directories — file-level pruning that happens BEFORE any parquet footer is
opened (stronger than row-group min/max stats, which require touching every
footer; at 10^6 files that difference is the query latency).

A query with no id constraint (MATCH_ALL, or a probe past the isin cap)
reads all segments — same superset semantics as the row filter. The search
itself is `operators.search.search_archive_dir`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clp_spark.operators.search import ids_in


def build_segment_index(spark: SparkSession, sinks_dir: str) -> DataFrame:
    """(logtype_id, segment) distinct pairs over a split-partitioned sink dir.
    Column-pruned scan: only the logtype_id column and the split partition
    value are read."""
    sinks = spark.read.option("basePath", sinks_dir).parquet(sinks_dir)
    return (
        sinks.select(F.col("logtype_id"), F.col("split").alias("segment"))
        .distinct()
    )


def write_segment_index(spark: SparkSession, out_dir: str) -> None:
    idx = build_segment_index(spark, f"{out_dir}/sinks")
    idx.write.mode("overwrite").parquet(f"{out_dir}/seg_index")


def matching_segments(
    seg_index: DataFrame, logtype_ids: list | None
) -> list[int] | None:
    """Segment ids containing any candidate logtype id; None = all segments
    (no id constraint). Driver-side O(segments) materialization — the index
    lookup itself is a tiny filtered aggregate."""
    if logtype_ids is None:
        return None
    if not logtype_ids:
        return []
    rows = (
        seg_index.where(ids_in("logtype_id", logtype_ids))
        .select("segment")
        .distinct()
        .collect()
    )
    return sorted(r["segment"] for r in rows)
