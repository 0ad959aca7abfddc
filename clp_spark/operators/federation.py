"""Multi-archive federated search — the `clg <archives-dir>` surface.

Reference semantics: `clg` operates on a directory of archives; the global
metadata database stores each archive's begin/end timestamp
(components/core/src/clp/clg/clg.cpp:345-420 iterates archives,
clp::GlobalMetadataDB `archives` table carries begin_timestamp /
end_timestamp — streaming_archive/ArchiveMetadata.hpp:24-79) and a time
range on the query prunes archives before any is opened.

Spark-first design — ONE job across N archives, not N sequential searches:

1. **Archive-level pruning** (driver, O(archives) metadata reads): each
   archive directory carries a `metadata.json` with its message count and
   ts range, written at compression time; a query time range drops
   non-overlapping archives before any parquet is touched.
2. **Union dictionaries** with an `archive_id` column. Query compilation
   runs ONCE against the distinct union var dictionary
   (`search.compile_subqueries`) — var-string constraints are
   archive-independent: a variable absent from archive A's dictionary
   cannot occur in A's rows, so probing the union is exact for every
   archive simultaneously.
3. **Candidate logtype ids as a JOIN, not driver collects**: each
   subquery's logtype LIKE pattern filters the union logtype dictionary
   into a (archive_id, logtype_id, subquery_ix) table, aggregated to
   (archive_id, logtype_id) -> set of matching subqueries. The sinks union
   inner-joins this table — the per-archive `MAX_ISIN_IDS` driver cap of
   `compile_query` disappears entirely (no ids are ever collected), and a
   1000-archive search compiles into one plan with one dictionary-sized
   join instead of 1000 driver probe loops.
4. **Segment pruning composes**: archives that carry a `seg_index`
   (operators/seg_index.py) contribute (archive_id, logtype_id, segment)
   rows; one semi-join of that union against the candidate table selects
   which split directories each archive even lists.
5. Decode + final wildcard verification run once over the joined
   candidates through the single-archive path's own tail
   (`search.verify_candidates`) — subquery k's base predicate is
   `array_contains(_ks, k)` where the single archive uses its id set.

At 10^5+ archives the per-archive `spark.read` union in (2)/(3) is the
limit — there, archives live in ONE table partitioned by archive_id (what
`plans/pipeline.py`'s snapshot sinks already do) and steps 2-5 are
unchanged; the reference has the same wall (its global metadata DB is the
single table; its per-archive search processes stay sequential).
"""

from __future__ import annotations

import hashlib
import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clp_spark.operators.search import (
    MATCH_ALL,
    compile_subqueries,
    verify_candidates,
)

METADATA_FILE = "metadata.json"
_SINK_COLS = ["placeholders", "encoded_vars", "dict_vars"]


def dir_bytes(path: str) -> int:
    """On-disk size of an archive directory (driver-side, O(files)) — the
    ArchiveMetadata `size` figure the reference reports compression ratio
    against (ArchiveMetadata.hpp:24-79)."""
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


def write_archive_metadata(
    spark: SparkSession, archive_dir: str, extra: dict | None = None
) -> dict:
    """Compute and persist the archive's catalog row (ArchiveMetadata.hpp
    analog): message count + ts_ms range (nulls when the archive has no
    per-message timestamps, e.g. token-pipeline archives). ``extra`` merges
    additional catalog fields (e.g. raw_bytes/archive_bytes for the
    compression-ratio figure)."""
    sinks = spark.read.option("basePath", f"{archive_dir}/sinks").parquet(
        f"{archive_dir}/sinks"
    )
    aggs = [F.count("*").alias("messages")]
    if "ts_ms" in sinks.columns:
        aggs += [F.min("ts_ms").alias("begin"), F.max("ts_ms").alias("end")]
    row = sinks.agg(*aggs).collect()[0]
    meta = {
        "messages": int(row["messages"]),
        "begin_ts_ms": int(row["begin"]) if "ts_ms" in sinks.columns and row["begin"] is not None else None,
        "end_ts_ms": int(row["end"]) if "ts_ms" in sinks.columns and row["end"] is not None else None,
    }
    if extra:
        meta.update(extra)
    if "://" in archive_dir and not archive_dir.startswith("file:"):
        # remote (hadoop-fs) archive: the catalog row belongs in a real
        # metadata table there; pruning treats a missing file as "keep"
        return meta
    archive_dir = archive_dir.removeprefix("file:")
    tmp = os.path.join(archive_dir, METADATA_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(archive_dir, METADATA_FILE))
    return meta


def read_archive_metadata(archive_dir: str) -> dict | None:
    path = os.path.join(archive_dir, METADATA_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def discover_archives(archives_dir: str) -> list[tuple[str, str]]:
    """Sorted (archive_id, path) for every child directory that is an
    archive (has a sinks/ subdir). archive_id = directory name.

    Names starting with '_' or '.' are skipped — '_staging' (an in-flight
    compress_text_logs_multi write) and hidden/metadata dirs must never be
    searched as archives: a crashed or concurrent compression would
    otherwise duplicate every renamed message or surface half-written data.
    """
    out = []
    for entry in sorted(os.scandir(archives_dir), key=lambda e: e.name):
        if entry.name.startswith(("_", ".")):
            continue
        if entry.is_dir() and os.path.isdir(os.path.join(entry.path, "sinks")):
            out.append((entry.name, entry.path))
    return out


def prune_archives_by_time(
    archives: list[tuple[str, str]],
    ts_lo: int | None,
    ts_hi: int | None,
) -> list[tuple[str, str]]:
    """Keep archives whose [begin, end] overlaps [ts_lo, ts_hi]; an archive
    with no metadata or no timestamps is KEPT (superset — pruning is an
    optimization, never a correctness gate)."""
    if ts_lo is None and ts_hi is None:
        return archives
    kept = []
    for aid, path in archives:
        meta = read_archive_metadata(path)
        if not meta or meta.get("begin_ts_ms") is None:
            kept.append((aid, path))
            continue
        if ts_hi is not None and meta["begin_ts_ms"] > ts_hi:
            continue
        if ts_lo is not None and meta["end_ts_ms"] < ts_lo:
            continue
        kept.append((aid, path))
    return kept


def _read_union(spark: SparkSession, archives, sub: str, cols: list[str]) -> DataFrame:
    parts = []
    for aid, path in archives:
        df = spark.read.parquet(os.path.join(path, sub))
        parts.append(df.select(F.lit(aid).alias("archive_id"), *cols))
    return reduce(DataFrame.unionByName, parts)


def _normalized_sinks(
    spark: SparkSession, aid: str, path: str, paths: list[str] | None = None
) -> DataFrame:
    """One archive's sinks with the federation's common columns. ``paths``
    restricts the read to specific split directories (segment pruning)."""
    base = os.path.join(path, "sinks")
    reader = spark.read.option("basePath", base)
    sinks = reader.parquet(*paths) if paths is not None else reader.parquet(base)
    if "doc_id" not in sinks.columns:  # text-log archives key by (file, msg)
        sinks = sinks.withColumn(
            "doc_id", F.concat_ws("#", "file_id", "msg_ix")
        ).withColumn("source", F.col("file_id"))
    ts = F.col("ts_ms") if "ts_ms" in sinks.columns else F.lit(None).cast("long")
    pat = F.col("ts_pat") if "ts_pat" in sinks.columns else F.lit(None).cast("string")
    return sinks.select(
        F.lit(aid).alias("archive_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("source").cast("string").alias("source"),
        "logtype_id",
        ts.alias("ts_ms"),
        pat.alias("ts_pat"),
        *_SINK_COLS,
    )


def _segment_hits(
    spark: SparkSession, archives, cands: DataFrame
) -> dict[str, list]:
    """archive_id -> candidate segment list, for archives carrying a
    seg_index. One union + one semi-join + one O(segments) collect."""
    indexed = [
        (aid, path)
        for aid, path in archives
        if os.path.isdir(os.path.join(path, "seg_index"))
    ]
    if not indexed:
        return {}
    seg_u = _read_union(spark, indexed, "seg_index", ["logtype_id", "segment"])
    hits = (
        seg_u.join(cands.select("archive_id", "logtype_id"), ["archive_id", "logtype_id"], "left_semi")
        .select("archive_id", "segment")
        .distinct()
        .collect()
    )
    out: dict[str, list] = {aid: [] for aid, _ in indexed}
    for r in hits:
        out[r["archive_id"]].append(r["segment"])
    return out


_RESULT_SCHEMA = (
    "archive_id string, doc_id string, source string, logtype_id bigint, "
    "ts_ms long, message string"
)
_KEEP = ["archive_id", "doc_id", "source", "logtype_id", "ts_ms"]


def search_archives(
    spark: SparkSession,
    archives_dir: str,
    query: str,
    ignore_case: bool = False,
    ts_lo: int | None = None,
    ts_hi: int | None = None,
) -> DataFrame:
    """Federated CLP wildcard search over every archive in ``archives_dir``.

    Returns (archive_id, doc_id, source, logtype_id, ts_ms, message) for
    every matching message across all (time-surviving) archives; exact
    parity with running `search_archive` per archive and unioning
    (tests/test_federation.py differential). ``ts_lo``/``ts_hi`` (epoch ms,
    inclusive) prune whole archives via their catalog row AND filter
    individual messages before decode; ts-less rows/archives are kept.

    Schema-defined archives (c --schema-path) need THEIR OWN query
    compilation — federating them through the heuristic compile would
    silently miss rows whose query tokens are schema variables. They group
    by schema-text hash (the common fleet shape is ONE schema file shared
    by many archives): each distinct schema compiles ONCE against its
    group's union var dictionary and scans its archives as one plan — the
    same O(distinct schemas) shape json_archive.search_json_archives uses.
    Union-dictionary compilation stays exact for every archive in the group
    because every probe result is applied per-row (`isin` on the row's own
    dict vars) and every relaxation degrades to the mandatory final
    wildcard verification (superset, never a miss)."""
    archives = prune_archives_by_time(discover_archives(archives_dir), ts_lo, ts_hi)
    if not archives:
        return spark.createDataFrame([], _RESULT_SCHEMA)

    from clp_spark.operators.schema_archive import (
        archive_schema_text,
        compile_schema_subqueries,
        load_log_schema,
    )

    schema_groups: dict[str, list[tuple[str, str]]] = {}
    schema_texts: dict[str, str] = {}
    heuristic: list[tuple[str, str]] = []
    for aid, path in archives:
        text = archive_schema_text(path)
        if text is None:
            heuristic.append((aid, path))
        else:
            key = hashlib.sha256(text.encode()).hexdigest()
            schema_groups.setdefault(key, []).append((aid, path))
            schema_texts[key] = text

    parts: list[DataFrame] = []
    for key, group in sorted(schema_groups.items()):
        sf = load_log_schema(schema_texts[key])
        var_u = _read_union(spark, group, "var_dict", ["var_value"])
        subs = compile_schema_subqueries(
            query, var_u.select("var_value").distinct(), sf, ignore_case
        )
        parts.append(
            _execute_compiled(spark, group, subs, query, ignore_case, ts_lo, ts_hi)
        )

    if heuristic:
        var_u = _read_union(spark, heuristic, "var_dict", ["var_value"])
        subs = compile_subqueries(
            query, var_u.select("var_value").distinct(), ignore_case
        )
        parts.append(
            _execute_compiled(spark, heuristic, subs, query, ignore_case, ts_lo, ts_hi)
        )

    if not parts:
        return spark.createDataFrame([], _RESULT_SCHEMA)
    return reduce(DataFrame.unionByName, parts)


def _execute_compiled(
    spark: SparkSession,
    archives: list[tuple[str, str]],
    subs,
    query: str,
    ignore_case: bool,
    ts_lo: int | None,
    ts_hi: int | None,
) -> DataFrame:
    """Execute compiled subqueries (heuristic OR schema-aware — the SubQuery
    contract is shared) over one group of archives as ONE Spark plan:
    candidate (archive_id, logtype_id) sets resolved as joins, segment
    pruning, decode, final wildcard verification."""
    if subs != MATCH_ALL and not subs:
        return spark.createDataFrame([], _RESULT_SCHEMA)

    lt_u = _read_union(spark, archives, "logtype_dict", ["logtype_id", "logtype"])

    def _ts_filter(sinks: DataFrame) -> DataFrame:
        """Per-message time filter, applied on the encoded rows BEFORE decode
        so it pushes down to the parquet scan; ts-less rows are kept (same
        superset rule as archive pruning)."""
        cond = F.lit(True)
        if ts_lo is not None:
            cond = cond & (F.col("ts_ms").isNull() | (F.col("ts_ms") >= ts_lo))
        if ts_hi is not None:
            cond = cond & (F.col("ts_ms").isNull() | (F.col("ts_ms") <= ts_hi))
        return sinks.where(cond) if (ts_lo is not None or ts_hi is not None) else sinks

    def _finish(df: DataFrame) -> DataFrame:
        """Re-render timestamps into matched messages (display fidelity —
        the wildcard verified against the stored body above)."""
        from clp_spark.functions.timestamps import restore_timestamp

        df = df.withColumn(
            "message",
            restore_timestamp(F.col("message"), F.col("ts_ms"), F.col("ts_pat")),
        )
        return df.select(*_KEEP, "message")

    def _with_logtype(df: DataFrame) -> DataFrame:
        return df.join(F.broadcast(lt_u), ["archive_id", "logtype_id"], "left")

    keep = _KEEP + ["ts_pat"]
    if subs == MATCH_ALL:
        sinks_u = _ts_filter(
            reduce(
                DataFrame.unionByName,
                [_normalized_sinks(spark, aid, p) for aid, p in archives],
            )
        )
        return _finish(
            verify_candidates(sinks_u, MATCH_ALL, keep, query, ignore_case, _with_logtype)
        )

    # candidate (archive_id, logtype_id) -> matching subquery set, resolved
    # entirely as DataFrame ops (no driver id collects, no isin cap)
    cand_parts = []
    for k, sq in enumerate(subs):
        like = (
            F.col("logtype").ilike(sq.logtype_like)
            if ignore_case
            else F.col("logtype").like(sq.logtype_like)
        )
        cand_parts.append(
            lt_u.where(like).select(
                "archive_id", "logtype_id", F.lit(k).alias("_k")
            )
        )
    # localCheckpoint, not persist: the candidate table is consumed by the
    # segment-hit collect AND the later broadcast join; persist() would park
    # it in the CacheManager forever (one leaked cache entry per federated
    # query in a long-lived session), while a localCheckpoint's blocks are
    # released by the ContextCleaner once the result DataFrame is dropped
    cands = (
        reduce(DataFrame.unionByName, cand_parts)
        .groupBy("archive_id", "logtype_id")
        .agg(F.collect_set("_k").alias("_ks"))
        .localCheckpoint(eager=True)
    )

    seg_hits = _segment_hits(spark, archives, cands)
    sink_parts = []
    for aid, path in archives:
        if aid in seg_hits:
            segs = seg_hits[aid]
            if not segs:
                continue  # index says no candidate logtype lives here
            paths = [os.path.join(path, "sinks", f"split={s}") for s in segs]
            sink_parts.append(_normalized_sinks(spark, aid, path, paths))
        else:
            sink_parts.append(_normalized_sinks(spark, aid, path))
    if not sink_parts:
        return spark.createDataFrame([], _RESULT_SCHEMA)
    sinks_u = _ts_filter(reduce(DataFrame.unionByName, sink_parts))

    joined = sinks_u.join(F.broadcast(cands), ["archive_id", "logtype_id"])
    # subquery k's base predicate: its logtype pattern matched the row's
    # (archive_id, logtype_id)
    bases = [(F.array_contains(F.col("_ks"), k), sq) for k, sq in enumerate(subs)]
    return _finish(
        verify_candidates(joined, bases, keep, query, ignore_case, _with_logtype)
    )
