"""GLT-layout archives and logtype-table-pruned search.

The reference's GLT variant stores rows grouped into per-logtype tables
(glt/streaming_archive/writer/LogtypeTable.hpp:13-18) and gets its headline
7.8x-faster search (docs user-docs/core-unstructured/glt.md:7) by scanning
ONLY the tables whose logtype can match the query. Spark-first shape:

- **Layout**: sinks partition by a two-tier `lt_table` value — a logtype
  whose row share exceeds the combine threshold gets its OWN table
  (`lt-{md5(logtype)[:15]}`; GLTSegment write_single_logtype), everything
  smaller hashes into `combined-{bucket}` tables (write_combined_logtype,
  GLTSegment.hpp:104-109). Same two-tier rule as plans/pipeline.
  glt_route_tiered, applied to the text-archive sink.
- **Search**: the compiled query's candidate logtype set maps (driver-side,
  pure hashing — no data read) to at most 2 table names per candidate, and
  the scan filters `lt_table IN (...)` — a PARTITION filter, so Catalyst
  prunes every non-matching table directory before any I/O. The reference's
  query-time analog is GLT's logtype-table dispatch
  (glt/streaming_archive/reader/Archive + LogtypeTable load by id).

A `_glt_manifest.json` beside the archive records num_buckets +
combine_threshold_pct so search reproduces the route-time bucketing.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clp_spark.operators.search import ids_in

GLT_MANIFEST = "_glt_manifest.json"

# pruning is skipped when the candidate set outgrows this — an enormous
# candidate set means the query barely narrows anything, and the IN-list
# itself would bloat the plan (the reference similarly falls back to
# scanning all tables when a query matches most logtypes)
MAX_PRUNE_LOGTYPES = 512


def glt_table_name(logtype: str, num_buckets: int, hot: bool) -> str:
    """Driver-side twin of the route-time column expressions
    (plans/pipeline.glt_bucket + glt_route_tiered naming): md5-derived
    60-bit hash. MUST stay in lockstep with the SQL forms."""
    h = hashlib.md5(logtype.encode()).hexdigest()[:15]
    return f"lt-{h}" if hot else f"combined-{int(h, 16) % num_buckets}"


def write_glt_manifest(
    archive_dir: str, num_buckets: int, combine_threshold_pct: float,
    hot_logtypes: int, total_rows: int,
) -> None:
    tmp = os.path.join(archive_dir, GLT_MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "num_buckets": num_buckets,
                "combine_threshold_pct": combine_threshold_pct,
                "hot_logtypes": hot_logtypes,
                "total_rows": total_rows,
            },
            f,
        )
    os.replace(tmp, os.path.join(archive_dir, GLT_MANIFEST))


def read_glt_manifest(archive_dir: str) -> dict | None:
    path = os.path.join(
        archive_dir.removeprefix("file:"), GLT_MANIFEST
    )
    try:
        with open(path) as f:
            return json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        return None


def is_glt_archive(archive_dir: str) -> bool:
    return read_glt_manifest(archive_dir) is not None


def glt_sinks_pruned(
    sinks: DataFrame,
    manifest: dict,
    logtype_dict: DataFrame,
    ids: list | None,
) -> tuple[DataFrame, list[str] | None]:
    """A GLT archive's sinks scan restricted to the logtype tables that the
    candidate logtype ``ids`` (`search.candidate_logtype_ids`; None = no
    id constraint) can live in. Returns (sinks, pruned_table_list); the
    list is None when the scan stays whole.

    The candidate-id → table-name mapping is a bounded driver probe on the
    logtype dictionary (same bound as query compilation's own dictionary
    probes); each candidate contributes its hot name AND its combined
    bucket — a logtype lives in exactly one of the two, so the union is
    sound without recording route-time hotness per logtype."""
    if ids is None or len(ids) > MAX_PRUNE_LOGTYPES:
        return sinks, None
    if not ids:
        return sinks.where(F.lit(False)), []
    # bounded driver probe: candidate ids → logtype strings
    cands = (
        logtype_dict.where(ids_in("logtype_id", ids))
        .select("logtype")
        .collect()
    )
    nb = int(manifest["num_buckets"])
    tables = sorted(
        {glt_table_name(r["logtype"], nb, hot=True) for r in cands}
        | {glt_table_name(r["logtype"], nb, hot=False) for r in cands}
    )
    return sinks.where(F.col("lt_table").isin(tables)), tables
