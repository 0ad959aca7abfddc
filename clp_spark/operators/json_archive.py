"""clp-s JSON-archive compression + ordered decompression (`clp-s c` / `x`).

Reference semantics: clp-s compresses dynamic JSONL into per-schema typed
tables and reconstructs the ORIGINAL records in ingestion order
(components/core/src/clp_s/JsonConstructor.hpp:34-68 `store()` /
`construct_in_order()`; regressions test-clp_s-end_to_end.cpp and
test-clp_s-delta-encode-log-order.cpp — the latter pins record ORDER across
interleaved schemas).

Spark-first shape:

- **Compress** — records grouped by their exact variant schema
  (schema_of_variant), each group parsed ONCE with from_json into its typed
  struct (the clp-s ERT table), written as one parquet table per schema id.
  An ingestion-order index (``log_event_idx``) rides along every row — the
  reference's JsonSerializer stores the same per-record index so
  construct_in_order can k-way-merge the tables back.
- **Reconstruct** — per schema, a single JVM expression rebuilds the nested
  record: F.struct(...) follows the schema tree, unstructured-array leaves
  (stored as their JSON text, exactly like the reference's array dictionary
  keeps stringified arrays) re-enter via parse_json, JSON-null /
  empty-object leaves re-emit as variant constants, and to_json(...,
  ignoreNullFields=false) serializes. Union of schema tables ordered by
  log_event_idx = the original stream. No per-row Python anywhere.
- **Search** — one plan, ``search_json_members``, for any list of member
  archives (a single archive is a fleet of one, as the reference loops one
  per-archive search): per member, a manifest read, the '$' range-index
  rewrite and the time prune; then one multi-directory scan per (schema,
  rewrite) group with the compiled predicate, returning matches through
  the same rebuild expression as reconstruction. ``search_json_archive``
  and ``search_json_archives`` are one-call entries into it.

Fidelity contract (what the round-trip preserves exactly): record ORDER,
the key SET per record, every value (ints/floats/bools/strings/nulls/
arrays/nested objects, including arrays of mixed types). Scalar float
leaves additionally re-emit their ORIGINAL lexeme byte-for-byte whenever
the clp-s FloatFormatEncoding descriptor covers it ("1.2E3" stays "1.2E3",
not "1200.0") — retain_float_format, default on like the reference. Key
ORDER within an object is canonicalized to sorted order — the same
canonical order the variant encoding itself uses — because
schema_of_variant does not retain source key order. Structural equality
(parsed-JSON equality) plus order plus float-lexeme bytes is the tested
invariant, matching the reference's end-to-end regression.

Scale notes (100 TB): the schema-grouping premise is clp-s's own — distinct
schemas << records — so each group write is one partitioned scan; the
only wide operation in reconstruction is the final orderBy(log_event_idx),
Spark's range-partitioned sort (the distributed analog of the reference's
single-node k-way merge). Reconstruct per archive (the reference does too:
one JsonConstructor per archive) and concatenate archives externally.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clp_spark.operators.json_search import JsonArchive

IDX_COL = "log_event_idx"
_SCALAR_ID = "__scalar__"
_MANIFEST = "manifest.json"

# FormattedFloat (clp-s retain-float-format, default ON — reference
# CommandLineArguments.cpp:392 `--no-retain-float-format`): every float leaf
# gets a sibling 16-bit format-descriptor column so reconstruction re-emits
# the ORIGINAL lexeme ("1.2E3", "0.00", "1.234567891234567E+0009") instead
# of the canonical double rendering. The descriptor is stored only when
# regenerating from the double is byte-identical (round_trip_is_identical,
# JsonParser.cpp:71,132); otherwise the leaf falls back to canonical — so
# the emitted token is byte-exact whenever a descriptor exists.
_SENT = "\x01"  # to_json escapes it as \\u0001; lexemes are [-+.0-9eE] only
_SENT_RE = r'"\\u0001([-+.0-9eE]+)\\u0001"'


def _fmt_col(leaf_ix: int) -> str:
    return f"__fmt_{leaf_ix}__"


def _retain_float_formats(part: DataFrame, leaves) -> DataFrame:
    """Attach ``__fmt_{i}__`` descriptor columns (i = leaf index in
    ``leaves``) for every float leaf, computed from the raw record text in
    one Arrow batch pass — the same per-token work the reference's
    JsonParser does at ingest. No-op when the schema has no float leaves or
    a record key collides with the internal namespace."""
    float_ix = [i for i, (p, k) in enumerate(leaves) if p and k == "float"]
    if not float_ix:
        return part
    top = {f.name for f in part.schema.fields}
    if any(_fmt_col(i) in top for i in float_ix) or "__fmts__" in top:
        return part  # record keys shadow the internal namespace: skip
    from clp_spark.functions.formatted_float import json_float_formats_udf

    udf = json_float_formats_udf([leaves[i][0] for i in float_ix])
    part = part.withColumn("__fmts__", udf(F.col("__raw__")))
    for j, i in enumerate(float_ix):
        part = part.withColumn(_fmt_col(i), F.col("__fmts__")[j])
    return part.drop("__fmts__")


def _codec(writer, compression_level: int | None):
    """clp-s `--compression-level` analog: pin the table codec to zstd at
    the requested level (verified: parquet-mr honors the writer option —
    level 19 writes ~18% smaller than level 1 on repetitive log text).
    None keeps the session default."""
    if compression_level is None:
        return writer
    return writer.option("compression", "zstd").option(
        "parquet.compression.codec.zstd.level", str(compression_level)
    )


def _cap_document_size(df: DataFrame, raw_col: str, max_document_size: int):
    """clp-s `--max-document-size` (default 512 MiB,
    CommandLineArguments.hpp:245): a document over the cap can't be parsed
    (JsonFileIterator.cpp:77,135) so compression fails — here the row is
    rewritten to an invalid token and falls through the normal invalid-row
    accounting (error by default, countable with on_invalid='skip'),
    with zero extra passes over the data."""
    return df.withColumn(
        raw_col,
        F.when(
            F.octet_length(F.col(raw_col)) <= max_document_size,
            F.col(raw_col),
        ).otherwise(F.lit("\x00oversized-document")),
    )


def _ts_norm(df: DataFrame, key: str | None,
             pattern_sink: list[str] | None = None) -> Column | None:
    """clp-s timestamp normalization for a top-level column (the same rule
    the search paths apply — json_search.normalize_ts_column): double =
    epoch seconds → ms; STRING = CAT default-pattern parse with the
    discovered patterns recorded into ``pattern_sink`` (the manifest's
    timestamp-pattern dictionary, TimestampDictionaryWriter parity);
    integers pass through as ms. None when the column is absent."""
    from clp_spark.operators.json_search import normalize_ts_column

    if not key:
        return None
    return normalize_ts_column(df, key, pattern_sink=pattern_sink)


def _schema_id(leaves: list[tuple[tuple[str, ...], str]]) -> str:
    sig = ";".join(".".join(p) + ":" + k for p, k in leaves)
    return hashlib.md5(sig.encode()).hexdigest()[:16]


def remove_path_prefix(path: str, prefix: str) -> str | None:
    """clp-s InputConfig remove_path_prefix (InputConfig.cpp:57-86):
    component-wise prefix removal; the result ALWAYS starts with '/'
    (path_without_prefix seeds at "/" — the separate --remove-leading-slash
    flag strips it). None when the path doesn't start with the prefix.
    All cases of the reference's test_InputConfig.cpp pass; one divergence:
    interior './' components are dropped by PurePosixPath while
    std::filesystem keeps them (leading './' matches the reference)."""
    from pathlib import PurePosixPath

    p = PurePosixPath(path).parts
    q = PurePosixPath(prefix).parts
    if p[: len(q)] != q:
        return None
    rest = p[len(q):]
    if rest and rest[0] == "/":  # absolute path, empty prefix
        rest = rest[1:]
    return "/" + "/".join(rest)


def _src_norm(source_col: str):
    """Source-file path column → local absolute path (the key space
    source_names maps from). Provenance-aware: input_file_name URIs
    percent-decode ('+' preserved), while the kv/zst routes already carry
    raw decoded paths that must NOT be decoded a second time."""
    from clp_spark.sources.logfiles import decode_file_uri_expr

    return decode_file_uri_expr(source_col)


def _build_range_index(
    staged: DataFrame,
    source_col: str,
    source_names: dict[str, str] | None,
    archive_creator_id: str | None,
    arch_col: str | None = None,
) -> list[dict] | dict[int, list[dict]]:
    """Per-input-file [s, e) spans over the ingestion-order column — the
    clp-s range index (RangeIndexWriter.hpp: non-overlapping ranges, each
    holding the _filename / _file_split_number / _archive_creator_id
    metadata fields the reference writes per ingested file,
    JsonParser.cpp's open_range/close_range around each file).

    With ``arch_col`` (multi-archive split), returns {archive_key:
    entries}; a file spanning several archives gets one entry per archive
    with _file_split_number incrementing in archive order — the
    reference's split counter when --target-encoded-size cuts a file
    across archives."""
    import uuid

    cid = archive_creator_id or str(uuid.uuid4())
    names = source_names or {}
    grp = [F.col(arch_col)] if arch_col else []
    rows = (
        staged.groupBy(*grp, _src_norm(source_col).alias("_p"))
        .agg(F.min(IDX_COL).alias("s"), F.max(IDX_COL).alias("e"))
        .collect()
    )

    def entry(r, split_no: int) -> dict:
        return {
            "s": int(r["s"]),
            "e": int(r["e"]) + 1,
            "f": {
                "_filename": names.get(r["_p"], r["_p"]),
                "_file_split_number": split_no,
                "_archive_creator_id": cid,
            },
        }

    if not arch_col:
        return [entry(r, 0) for r in sorted(rows, key=lambda r: r["s"])]
    # split numbers count a file's pieces across archives, in idx order
    split_no: dict[str, int] = {}
    out: dict[int, list[dict]] = {}
    for r in sorted(rows, key=lambda r: int(r["s"])):
        n = split_no.get(r["_p"], 0)
        split_no[r["_p"]] = n + 1
        out.setdefault(int(r[arch_col]), []).append(entry(r, n))
    return out


def compress_jsonl_archive(
    df: DataFrame,
    raw_col: str,
    out_dir: str,
    order_col: str | None = None,
    structurize_arrays: bool = False,
    on_invalid: str = "error",
    timestamp_key: str | None = None,
    retain_float_format: bool = True,
    record_log_order: bool = True,
    compression_level: int | None = None,
    max_document_size: int | None = 512 * 1024 * 1024,
    is_split: bool = False,
    min_table_size: int = 0,
    source_col: str | None = None,
    source_names: dict[str, str] | None = None,
    archive_creator_id: str | None = None,
) -> dict:
    """JSONL rows → per-schema typed parquet tables + manifest.

    ``order_col`` supplies the ingestion-order index (monotone within the
    stream); when None a monotonically_increasing_id is attached — stable
    for a file-backed scan, whose partition indices follow file offsets.
    ``retain_float_format`` (clp-s default; `--no-retain-float-format`
    disables) stores per-float-leaf format descriptors so reconstruction
    re-emits the ingested float lexemes byte-exactly.
    ``record_log_order=False`` (clp-s `--disable-log-order`,
    CommandLineArguments.cpp:417-420) omits the ingestion-order column
    entirely — smaller tables, but the archive can only reconstruct out of
    order (JsonParser.cpp:774 skips the log_event_idx node the same way).
    ``compression_level`` pins the table codec to zstd at that level
    (clp-s `--compression-level`, reference default 3); None keeps the
    session default. ``max_document_size`` (reference default 512 MiB)
    rewrites oversized records into invalid rows; None = unlimited.
    ``is_split`` marks the archive as one split of a larger input in the
    manifest (ArchiveWriter::close(true) during --target-encoded-size).

    ``source_col`` names a column carrying each record's source file URI;
    when given (and log order is recorded), the manifest stores a RANGE
    INDEX — the clp-s RangeIndexWriter structure, one
    ``{"s": idx, "e": idx, "f": {_filename, _file_split_number,
    _archive_creator_id}}`` entry per input file over the ingestion-order
    column (RangeIndexWriter.hpp:17-30; field names
    archive_constants.hpp range_index) — so '$'-namespace KQL filters
    evaluate against it at search time. ``source_names`` optionally maps
    the file's local absolute path to the canonical stored name
    (--normalize-paths / --remove-path-prefix / --remove-leading-slash
    transforms); unmapped files store their URI-stripped path. Like the
    reference, --disable-log-order also disables the range index (its
    help text: "Do not record the archive range index"). Deviation noted:
    ranges are [min, max+1) in ingestion-order-KEY space (sparse monotone
    ids), not dense record counts — the same space log_event_idx uses
    everywhere else in this archive format.

    Stats parity: the manifest also records ``uncompressed_size`` (raw
    input bytes incl. newlines) and — when ``timestamp_key`` resolves —
    ``begin_timestamp``/``end_timestamp`` (normalized epoch ms), all
    measured by Observation metrics on the SAME jobs that stage and write
    the tables (zero extra passes; this also replaces the old re-read row
    counts). Returns {"schemas": n, "rows": n, "invalid": n, "dir": ...,
    "uncompressed_size": n}.
    """
    from pyspark.sql import Observation

    if on_invalid not in ("error", "skip"):
        raise ValueError("on_invalid must be 'error' or 'skip'")
    if max_document_size is not None:
        df = _cap_document_size(df, raw_col, max_document_size)
    if record_log_order:
        src = df.withColumn(
            IDX_COL,
            F.col(order_col).cast("long") if order_col
            else F.monotonically_increasing_id(),
        )
        keep = (IDX_COL,)
        if source_col:
            keep = (IDX_COL, source_col)
    else:
        src = df
        keep = ()
        source_col = None  # no order column → no range index (reference
        # --disable-log-order also drops the archive range index)
    archive = JsonArchive(
        src, raw_col, structurize_arrays, cache=True, keep_cols=keep
    )
    range_index = None
    if source_col:
        # one agg over the cached staged scan (no extra input read): each
        # file's [min, max+1) ingestion-order span is its range entry
        range_index = _build_range_index(
            archive._staged, source_col, source_names, archive_creator_id
        )
    manifest: dict = {
        "structurize_arrays": structurize_arrays,
        # clp-s `c --timestamp-key`: the archive REMEMBERS its timestamp
        # column (CommandLineArguments.cpp:377-379); search/count-by-time
        # default to it without re-specifying
        "timestamp_key": timestamp_key,
        "log_order": record_log_order,
        "schemas": [],
    }
    # string-timestamp pattern dictionary (TimestampDictionaryWriter
    # parity): patterns discovered while normalizing a STRING timestamp
    # key, recorded so search normalizes identically without re-probing.
    # list.append is GIL-atomic, safe under the write pool below.
    ts_patterns: list[str] = []
    total_rows = 0
    scalar_parts: list[DataFrame] = []
    # Variant DDLs are finer than the typed schema (every DECIMAL(p,s) is
    # its own DDL but the SAME float column) — groups with an identical
    # (path, kind) signature are ONE clp-s schema and merge into one table.
    merged: dict[str, dict] = {}
    for grp in archive.schema_groups:
        part = grp["part"]
        if retain_float_format:
            part = _retain_float_formats(part, grp["leaves"])
        typed = part.drop("__v__", "__raw__")
        if source_col:
            typed = typed.drop(source_col)  # range-index bookkeeping only
        data_cols = [c for c in typed.columns if c != IDX_COL]
        if not data_cols:
            # scalar/array/empty-object ROOT records: no typed columns to
            # project — store the canonical JSON of the whole variant
            # (to_json(variant) is exact; the reference stores such records
            # through the root node the same way)
            scalar_parts.append(
                grp["part"].select(
                    *([F.col(IDX_COL)] if record_log_order else []),
                    F.to_json("__v__").alias("__txt__"),
                )
            )
            continue
        sid = _schema_id(grp["leaves"])
        if sid in merged:
            merged[sid]["typed"] = merged[sid]["typed"].unionByName(typed)
        else:
            merged[sid] = {"typed": typed, "leaves": grp["leaves"],
                           "ddl": grp["ddl"]}
    # Per-schema writes are independent jobs over the SAME cached variant
    # scan, and each touches only its slice of rows — running them
    # sequentially leaves most cores idle per write. A thread pool submits
    # them as concurrent Spark jobs so their tasks interleave instead of
    # serializing per schema.
    from concurrent.futures import ThreadPoolExecutor

    def _write_one(item):
        # Row counts (and timestamp ranges, when the archive records a
        # timestamp key) come from Observation metrics computed by the
        # write job itself — the old post-write re-read is gone.
        sid, entry = item
        path = os.path.join(out_dir, f"schema_id={sid}")
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("n")]
        ts = _ts_norm(entry["typed"], timestamp_key, ts_patterns)
        if ts is not None:
            metrics += [F.min(ts).alias("lo"), F.max(ts).alias("hi")]
        typed = entry["typed"].observe(obs, *metrics)
        _codec(typed.write.mode("overwrite"), compression_level).parquet(path)
        m = obs.get
        return sid, entry, int(m["n"]), m.get("lo"), m.get("hi")

    if merged:
        with ThreadPoolExecutor(max_workers=min(8, len(merged))) as pool:
            results = list(pool.map(_write_one, merged.items()))
    else:
        results = []
    ts_lo = ts_hi = None
    for sid, entry, n, lo, hi in results:
        total_rows += n
        if lo is not None:
            ts_lo = lo if ts_lo is None else min(ts_lo, lo)
        if hi is not None:
            ts_hi = hi if ts_hi is None else max(ts_hi, hi)
        manifest["schemas"].append(
            {
                "schema_id": sid,
                "ddl": entry["ddl"],
                "leaves": [[list(p), k] for p, k in entry["leaves"]],
                "rows": n,
                # whether this table carries float-format descriptor columns
                # (federated search groups on it so mixed-flag archives with
                # the same schema signature never share one parquet scan)
                "fmt": any(
                    c.startswith("__fmt_") for c in entry["typed"].columns
                ),
            }
        )
    if scalar_parts:
        scal = scalar_parts[0]
        for p in scalar_parts[1:]:
            scal = scal.unionAll(p)
        path = os.path.join(out_dir, f"schema_id={_SCALAR_ID}")
        obs = Observation()
        scal = scal.observe(obs, F.count(F.lit(1)).alias("n"))
        _codec(scal.write.mode("overwrite"), compression_level).parquet(path)
        n = int(obs.get["n"])
        total_rows += n
        manifest["schemas"].append(
            {"schema_id": _SCALAR_ID, "ddl": None, "leaves": None, "rows": n}
        )
    obs_in = Observation()
    n_input = archive._staged.observe(
        obs_in,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("__raw__") + F.lit(1)).alias("bytes"),
    ).count()
    invalid = n_input - total_rows
    if invalid and on_invalid == "error":
        raise ValueError(f"{invalid} input rows are not valid JSON")
    manifest["invalid"] = invalid
    manifest["uncompressed_size"] = int(obs_in.get["bytes"] or 0)
    manifest["begin_timestamp"] = ts_lo
    manifest["end_timestamp"] = ts_hi
    if ts_patterns:
        manifest["timestamp_patterns"] = ts_patterns
    manifest["is_split"] = is_split
    if range_index is not None:
        manifest["range_index"] = range_index
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, _MANIFEST), "w") as f:
        json.dump(manifest, f)
    summary = {
        "schemas": len(manifest["schemas"]),
        "rows": total_rows,
        "invalid": invalid,
        "dir": out_dir,
        "uncompressed_size": manifest["uncompressed_size"],
    }
    if min_table_size:
        # clp-s --min-table-size: pack sub-threshold schema tables into the
        # shared combined store (post-pass, like the reference's at-close
        # packing)
        summary["combined_tables"] = combine_small_tables(
            df.sparkSession, out_dir, min_table_size, compression_level
        )
    return summary


def is_json_archive(archive_dir: str) -> bool:
    return os.path.exists(os.path.join(archive_dir, _MANIFEST))


_COMBINED_DIR = "combined_tables"
_SID_COL = "__sid__"


def combine_small_tables(
    spark: SparkSession,
    archive_dir: str,
    min_table_size: int,
    compression_level: int | None = None,
) -> int:
    """clp-s `--min-table-size` analog (ArchiveWriter.cpp:418-443): schema
    tables below the size threshold pack into ONE shared store so a
    schema-exploded ingest doesn't shed thousands of tiny files — the
    reference concatenates sub-threshold tables into shared zstd streams;
    the parquet-native translation is one combined table whose columns are
    namespaced per schema ("<sid>::<col>", so same-path/different-type
    schemas can never collide) plus a `__sid__` routing column. Rows of
    other schemas are NULL in a schema's columns — RLE'd to almost
    nothing, exactly the shared-compression win the reference gets.

    Runs as a post-pass over a finished archive (the reference also packs
    at close): reads the manifest, rewrites sub-threshold tables (bounded
    work — each is < min_table_size on disk), deletes their directories,
    and marks their manifest entries `combined: true`. Readers route via
    the manifest. Returns the number of tables combined; a no-op (0 or 1
    small table) leaves the archive untouched."""
    import shutil
    from functools import reduce

    with open(os.path.join(archive_dir, _MANIFEST)) as f:
        manifest = json.load(f)
    small = []
    small_bytes = 0
    for entry in manifest["schemas"]:
        if entry["schema_id"] == _SCALAR_ID or entry.get("combined"):
            continue
        d = os.path.join(archive_dir, f"schema_id={entry['schema_id']}")
        size = sum(
            os.path.getsize(os.path.join(r, n))
            for r, _dd, names in os.walk(d) for n in names
        )
        if size < min_table_size:
            small.append(entry)
            small_bytes += size
    if len(small) < 2:
        return 0  # nothing shares a store — leave the layout alone
    parts = []
    for entry in small:
        sid = entry["schema_id"]
        t = spark.read.parquet(
            os.path.join(archive_dir, f"schema_id={sid}")
        )
        parts.append(
            t.select(
                F.lit(sid).alias(_SID_COL),
                *[F.col(f"`{c}`").alias(f"{sid}::{c}") for c in t.columns],
            )
        )
    comb = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )
    # output files cut at ~min_table_size, the same way the reference cuts
    # its shared zstd streams (ArchiveWriter.cpp:432) — without this, the
    # union of N one-file scans would write N tiny files right back
    n_files = max(1, small_bytes // max(min_table_size, 1))
    _codec(
        comb.coalesce(int(n_files)).write.mode("overwrite"),
        compression_level,
    ).parquet(os.path.join(archive_dir, _COMBINED_DIR))
    for entry in small:
        shutil.rmtree(
            os.path.join(archive_dir, f"schema_id={entry['schema_id']}")
        )
        entry["combined"] = True
    with open(os.path.join(archive_dir, _MANIFEST), "w") as f:
        json.dump(manifest, f)
    return len(small)


# Lazily-localized single-file archives: scratch archive dir (realpath) →
# PackedArchiveReader. Table loads route through _ensure_members so only
# the members a plan actually touches are ranged-read out of the container
# (ArchiveReaderAdaptor parity — see localize_single_file_archives).
_PACKED_READERS: dict[str, object] = {}


def _packed_reader(archive_dir: str):
    return _PACKED_READERS.get(os.path.realpath(archive_dir))


def _ensure_members(archive_dir: str, prefix: str) -> None:
    """Materialize the members under `prefix` when `archive_dir` is a
    lazily-localized packed archive; no-op for normal directories."""
    r = _packed_reader(archive_dir)
    if r is not None:
        r.ensure_prefix(prefix)


def _ddl_prunes(
    spark: SparkSession,
    entry: dict,
    structurize: bool,
    eff_ts: str | None,
    ast,
    ignore_case: bool,
) -> bool:
    """True only when compiling the query against the manifest-recorded
    schema DDL PROVES the table unmatchable — decided without touching any
    table bytes (pruning in _compile is a column-resolution failure, and
    the DDL reproduces the table's exact column tree via the same
    _leaves_to_struct the writer used). Conservative: missing DDL or any
    compile hiccup returns False so the real table loads and the normal
    compile decides."""
    ddl = entry.get("ddl")
    if not ddl:
        return False
    try:
        from clp_spark.operators.json_schema import _parse_variant_ddl
        from clp_spark.operators.json_search import (
            JsonArchive as _JA,
            _leaves_to_struct,
        )

        leaves = _parse_variant_ddl(ddl)
        schema, arr_leaves = _leaves_to_struct(leaves, structurize)
        # log_event_idx exists in every ordered table; the probe must carry
        # it so rewritten '$' range-index filters never prove a schema
        # unmatchable (they resolve against the idx column, not the DDL)
        probe = spark.createDataFrame([], schema).withColumn(
            IDX_COL, F.lit(0).cast("long")
        )
        compiler = _JA.__new__(_JA)
        compiler.metadata = {IDX_COL: None}
        compiler.timestamp_key = eff_ts
        return compiler._compile(probe, ast, ignore_case, arr_leaves) is None
    except Exception:
        return False


def _load_schema_table(
    spark: SparkSession, archive_dir: str, entry: dict
) -> DataFrame:
    """The typed table for one manifest entry — its own parquet directory,
    or its slice of the combined store (filter on `__sid__`, strip the
    schema-id column prefixes; types come back exactly as written)."""
    sid = entry["schema_id"]
    if not entry.get("combined"):
        _ensure_members(archive_dir, f"schema_id={sid}")
        return spark.read.parquet(
            os.path.join(archive_dir, f"schema_id={sid}")
        )
    _ensure_members(archive_dir, _COMBINED_DIR)
    comb = spark.read.parquet(os.path.join(archive_dir, _COMBINED_DIR))
    pfx = f"{sid}::"
    return comb.where(F.col(_SID_COL) == sid).select(
        *[
            F.col(f"`{c}`").alias(c[len(pfx):])
            for c in comb.columns
            if c.startswith(pfx)
        ]
    )


def _rebuild_expr(
    df: DataFrame,
    leaves: list[tuple[tuple[str, ...], str]],
    structurize_arrays: bool,
) -> Column:
    """Schema-tree leaves → one nested-struct expression whose to_json is
    the original record (JsonSerializer inverse). Leaf order is the sorted
    order _parse_variant_ddl emits — the same canonical key order the
    variant encoding uses.

    Float leaves whose ``__fmt_{i}__`` descriptor column exists in ``df``
    (i = position in ``leaves``, so callers must pass the manifest's FULL
    leaf list whenever float leaves are present) re-emit the original
    lexeme: the restored text rides through to_json inside \\x01 sentinels
    as a string field, then one regexp pass strips the quotes+sentinels
    back into a raw number token. Descriptors only exist when restoration
    is byte-identical (ingest guard), so a null descriptor falls back to
    the canonical double rendering — cast(string) matches to_json's own
    Double.toString output."""
    cols = set(df.columns)
    restore = None
    sentinel_used = False

    def leaf_expr(col: Column, kind: str, leaf_ix: int) -> Column:
        nonlocal restore, sentinel_used
        if kind == "null":
            return F.parse_json(F.lit("null"))
        if kind == "emptyobj":
            return F.parse_json(F.lit("{}"))
        if kind.startswith("array:"):
            elem = kind[len("array:"):]
            if structurize_arrays and elem:
                return col  # typed array<T>: to_json renders it directly
            # unstructured arrays were stored as their JSON text (the
            # reference's array dictionary stores stringified arrays too)
            return F.parse_json(col)
        if kind == "float" and _fmt_col(leaf_ix) in cols:
            if restore is None:
                from clp_spark.functions.formatted_float import (
                    formatted_float_restore_udf,
                )
                restore = formatted_float_restore_udf()
            sentinel_used = True
            txt = F.coalesce(
                restore(col, F.col(_fmt_col(leaf_ix))), col.cast("string")
            )
            return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
                F.concat(F.lit(_SENT), txt, F.lit(_SENT))
            )
        return col

    def build(
        group: list[tuple[int, tuple[str, ...], str]], getter, depth: int
    ) -> list[Column]:
        # group: leaves sharing the path prefix consumed so far; getter(name)
        # returns the Column for a child field at this depth
        fields: list[Column] = []
        i = 0
        while i < len(group):
            seg = group[i][1][depth]
            j = i
            while j < len(group) and group[j][1][depth] == seg:
                j += 1
            sub = group[i:j]
            child = getter(seg)
            if len(sub) == 1 and len(sub[0][1]) == depth + 1:
                ix, _, kind = sub[0]
                fields.append(leaf_expr(child, kind, ix).alias(seg))
            else:
                inner = build(sub, child.getField, depth + 1)
                fields.append(F.struct(*inner).alias(seg))
            i = j
        return fields

    nonroot = [(i, p, k) for i, (p, k) in enumerate(leaves) if p]
    out = F.to_json(
        F.struct(*build(nonroot, lambda name: df[name], 0)),
        {"ignoreNullFields": "false"},
    )
    if sentinel_used:
        out = F.regexp_replace(out, _SENT_RE, "$1")
    return out


def reconstruct_jsonl(
    spark: SparkSession, archive_dir: str, ordered: bool = True
) -> DataFrame:
    """JSON archive → (log_event_idx, json) in ingestion order — the
    JsonConstructor.construct_in_order analog. ``ordered=False`` skips the
    final sort for consumers that re-sort or merge downstream.

    An archive compressed with ``record_log_order=False`` has no order
    column: log_event_idx comes back NULL and an ordered request falls back
    to out-of-order output with a warning (JsonConstructor.cpp:41-49)."""
    with open(os.path.join(archive_dir, _MANIFEST)) as f:
        manifest = json.load(f)
    has_order = manifest.get("log_order", True)
    if ordered and not has_order:
        import logging

        logging.getLogger(__name__).warning(
            "%s is missing ordering information and can not be decompressed"
            " in log order. Falling back to out of order decompression.",
            archive_dir,
        )
    idx = (
        F.col(IDX_COL) if has_order else F.lit(None).cast("long").alias(IDX_COL)
    )
    out: DataFrame | None = None
    for entry in manifest["schemas"]:
        tbl = _load_schema_table(spark, archive_dir, entry)
        if entry["schema_id"] == _SCALAR_ID:
            part = tbl.select(idx, F.col("__txt__").alias("json"))
        else:
            leaves = [(tuple(p), k) for p, k in entry["leaves"]]
            part = tbl.select(
                idx,
                _rebuild_expr(
                    tbl, leaves, manifest["structurize_arrays"]
                ).alias("json"),
            )
        out = part if out is None else out.unionAll(part)
    if out is None:
        raise ValueError(f"empty JSON archive at {archive_dir}")
    return out.orderBy(IDX_COL) if (ordered and has_order) else out


def _manifest_record_count(manifest: dict) -> int:
    return sum(e.get("rows", 0) for e in manifest["schemas"])


def _manifest_time_disjoint(
    manifest: dict, timestamp_key, tge: int | None, tle: int | None
) -> bool:
    """Archive-level timestamp prune condition (EvaluateTimestampIndex,
    clp-s.cpp:230-236): the stored [begin, end] range is disjoint from
    the CLI's [tge, tle] window. Only valid when the search is keyed on
    the SAME column the manifest range was computed from — a search-time
    --timestamp-key override targeting a different field must not prune
    on the compression key's range."""
    if timestamp_key is not None and timestamp_key != manifest.get(
        "timestamp_key"
    ):
        return False
    a_lo = manifest.get("begin_timestamp")
    a_hi = manifest.get("end_timestamp")
    return (tge is not None and a_hi is not None and a_hi < tge) or (
        tle is not None and a_lo is not None and a_lo > tle
    )


def _store_unordered(spark: SparkSession, archive_dir: str, out_dir: str) -> dict:
    """clp-s `x` WITHOUT `--ordered` (the reference's default,
    JsonConstructor.cpp:49-56): append every record to ONE file named
    "original" in per-table order — no global sort, so the whole extraction
    stays a union of narrow per-schema scans. Appending means extracting a
    directory of archives accumulates into the same file, exactly like the
    reference's CreateIfNonexistentForAppending open mode."""
    import shutil

    df = reconstruct_jsonl(spark, archive_dir, ordered=False)
    staging = os.path.join(out_dir, "_staging")
    df.select("json").write.mode("overwrite").text(staging)
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    with open(os.path.join(out_dir, "original"), "ab") as w_out:
        for p in sorted(
            e.path for e in os.scandir(staging) if e.name.startswith("part-")
        ):
            with open(p, "rb") as r_in:
                while True:
                    block = r_in.read(1 << 20)
                    if not block:
                        break
                    rows += block.count(b"\n")
                    w_out.write(block)
    shutil.rmtree(staging, ignore_errors=True)
    return {"chunks": 1, "rows": rows, "files": ["original"]}


def reconstruct_jsonl_chunks(
    spark: SparkSession,
    archive_dir: str,
    out_dir: str,
    target_chunk_size: int = 0,
    archive_id: str | None = None,
    ordered: bool = True,
) -> dict:
    """`clp-s x --ordered [--target-ordered-chunk-size N]` analog: write the
    ordered reconstruction as `{archive_id}_{first}_{last+1}.jsonl` chunk
    files (reference JsonConstructor::construct_in_order,
    components/core/src/clp_s/JsonConstructor.cpp:64-191 — last index
    exclusive, records never split across chunks).

    Chunk assignment divergence, documented: the reference finalizes a
    chunk when its greedily-accumulated byte count reaches the target — an
    inherently sequential fold. Here chunks split where the GLOBAL byte
    offset crosses a multiple of the target (a record straddling the
    boundary stays with its starting chunk), which is one distributed pass:
    per-partition byte sums (O(partitions) to the driver) + a
    partition-local running sum. Chunk sizes are ~target either way; only
    the boundary drift differs, and the reference pins no boundary
    behavior in its tests (test-clp_s-end_to_end.cpp uses target 0).

    Write shape: records hash-partition by chunk id and sort inside each
    task, so chunk files materialize in parallel with no driver data
    movement; the driver only renames O(chunks) part files.

    ``ordered=False`` is the reference's DEFAULT `x` behavior: skip the
    global sort entirely and append to one "original" file
    (JsonConstructor.cpp:49-56). Returns
    {"chunks": n, "rows": n, "files": [names...]}.
    """
    import shutil
    from urllib.parse import unquote

    from pyspark.sql.window import Window

    if not ordered:
        return _store_unordered(spark, archive_dir, out_dir)
    aid = archive_id or os.path.basename(os.path.normpath(archive_dir))
    with open(os.path.join(archive_dir, _MANIFEST)) as f:
        if not json.load(f).get("log_order", True):
            # no ordering information: the reference warns and appends the
            # unordered store to ONE file named "original"
            # (JsonConstructor.cpp:41-56)
            import logging

            logging.getLogger(__name__).warning(
                "%s is missing ordering information and can not be"
                " decompressed in log order. Falling back to out of order"
                " decompression.", archive_dir,
            )
            return _store_unordered(spark, archive_dir, out_dir)
    df = reconstruct_jsonl(spark, archive_dir, ordered=False)
    if not target_chunk_size:
        assign = df.select(F.lit(0).alias("_chunk"), F.col(IDX_COL), "json")
    else:
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        part = (
            df.repartitionByRange(shuffle_n, F.col(IDX_COL))
            .sortWithinPartitions(IDX_COL)
            .withColumn("_pid", F.spark_partition_id())
            .withColumn("_len", F.octet_length("json") + F.lit(1))
            .persist()  # pin the sampled range boundaries: the per-partition
            # sums and the final pass MUST see identical partitioning
        )
        psums = {
            r["_pid"]: r["s"]
            for r in part.groupBy("_pid").agg(F.sum("_len").alias("s")).collect()
        }
        prefix, acc = {}, 0
        for pid in sorted(psums):
            prefix[pid] = acc
            acc += psums[pid]
        off_map = F.create_map(
            *[F.lit(x) for pid, off in prefix.items() for x in (pid, off)]
        )
        w = (
            Window.partitionBy("_pid")
            .orderBy(IDX_COL)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cum_before = off_map[F.col("_pid")] + F.coalesce(
            F.sum("_len").over(w), F.lit(0)
        )
        assign = part.select(
            F.floor(cum_before / F.lit(target_chunk_size)).alias("_chunk"),
            F.col(IDX_COL),
            "json",
        )
    bounds = {
        r["_chunk"]: (r["lo"], r["hi"])
        for r in assign.groupBy("_chunk")
        .agg(F.min(IDX_COL).alias("lo"), F.max(IDX_COL).alias("hi"))
        .collect()
    }
    staging = os.path.join(out_dir, "_staging")
    (
        assign.repartition("_chunk")
        .sortWithinPartitions("_chunk", IDX_COL)
        .select("_chunk", "json")
        .write.mode("overwrite")
        .partitionBy("_chunk")
        .text(staging)
    )
    os.makedirs(out_dir, exist_ok=True)
    names = []
    total = 0
    for entry in sorted(os.scandir(staging), key=lambda e: e.name):
        if not (entry.is_dir() and entry.name.startswith("_chunk=")):
            continue
        cid = int(unquote(entry.name[len("_chunk="):]))
        lo, hi = bounds[cid]
        name = f"{aid}_{lo}_{hi + 1}.jsonl"
        parts = sorted(
            p.path for p in os.scandir(entry.path) if p.name.startswith("part-")
        )
        dst = os.path.join(out_dir, name)
        with open(dst, "wb") as w_out:
            for p in parts:
                with open(p, "rb") as r_in:
                    shutil.copyfileobj(r_in, w_out)
        # Row count comes from the bounds map (log_event_idx is dense per
        # archive), so extraction never re-reads the bytes it just wrote.
        total += hi - lo + 1
        names.append(name)
    shutil.rmtree(staging, ignore_errors=True)
    if target_chunk_size:
        part.unpersist()
    return {"chunks": len(names), "rows": total, "files": sorted(names)}


def discover_json_archives(root: str) -> list[str]:
    """Subdirectories of `root` that are JSON archives (clp-s treats the
    archive path as a DIRECTORY of archives, one subdir per archive —
    clp-s.cpp:92-110 create/iterate archives_dir)."""
    try:
        entries = sorted(os.scandir(root), key=lambda e: e.name)
    except (FileNotFoundError, NotADirectoryError):
        return []
    return [e.path for e in entries if e.is_dir() and is_json_archive(e.path)]


def json_archive_members(
    root: str, archive_id: str | None = None
) -> list[str]:
    """The member archives `s <archives-dir>` searches: every JSON archive
    under `root`, or only the one named `archive_id` (the clp-s
    `--archive-id` flag). Raises ValueError when none is left."""
    dirs = discover_json_archives(root)
    if archive_id is not None:
        dirs = [d for d in dirs if os.path.basename(d) == archive_id]
        if not dirs:
            raise ValueError(f"no archive '{archive_id}' under {root}")
    if not dirs:
        raise ValueError(f"{root} contains no JSON archives")
    return dirs


def search_json_members(
    spark: SparkSession,
    dirs: list[str],
    query: str,
    ignore_case: bool = False,
    timestamp_key: str | None = None,
    tge: int | None = None,
    tle: int | None = None,
    telemetry_sink: list | None = None,
) -> DataFrame:
    """KQL search over compressed JSON archive directories → one DataFrame
    (archive_id, log_event_idx, json) — the one clp-s `s` plan; a single
    archive is a fleet of one (the reference loops one per-archive search
    over every archive it is given, clp-s.cpp:437). No raw JSON is
    re-parsed: each non-pruned schema's typed parquet table is scanned
    with the compiled predicate and matching records are rebuilt with the
    same expression as `x` (schema-match pruning means a schema whose
    columns can't satisfy the query costs zero I/O beyond its manifest
    entry).

    Catalog step: the member manifests ARE the catalog rows (one small
    driver read each, same as text federation's metadata.json). Per
    member, in the reference's stage order (clp-s.cpp:222-236): '$'
    range-index filters rewrite into log_event_idx bounds from that
    member's own range index (EvaluateRangeIndexFilters), and a rewrite
    that folds to constant false prunes the member; then a stored
    [begin, end] time range disjoint from ``tge``/``tle`` (the CLI's
    explicit epoch-ms range flags) prunes it (EvaluateTimestampIndex —
    range conditions inside the KQL text do not trigger this prune).
    Tables then group by SCHEMA SIGNATURE and rewrite — schema_id is a
    content hash of (path, kind) leaves, so identical shapes across
    members share an id — and each group reads as ONE multi-directory
    scan: plan size is O(distinct schemas), not O(archives x schemas),
    and the whole list searches as one job.

    Array-leaf probes: unstructured arrays were stored as their JSON
    text; a variant of just the array subtree is synthesized per schema
    so the shared compile path (json_search._array_probe) works
    unchanged. Scalar-root records carry no keys and are never matched.
    ``timestamp_key`` overrides each member's recorded key for
    comparisons (clp-s normalization: double = epoch seconds → ms; digit
    strings → ms) without altering the reconstructed output.

    ``telemetry_sink``, when a list, receives one dict per member with
    the counters the reference's per-archive span records
    (SearchTelemetry.hpp SearchResultMetrics + the termination stage):
    archive_id, num_archive_records, num_matched_schemas,
    num_archive_records_matching_schemas, termination_stage
    ("range_index_matching" / "time_range_matching" for members pruned
    during the manifest sweep, "schema_matching" when no schema of the
    member can match, "" otherwise). Result rows then also carry a
    ``__sid__`` schema-id column so the caller can count schemas with
    matches; callers drop it before output."""
    from clp_spark.operators.json_search import (
        JsonArchive,
        normalize_ts_column,
    )
    from clp_spark.operators.kql import (
        evaluate_range_index_filters,
        fold_range_index_const,
        has_range_index_filter,
        parse_kql,
    )
    from clp_spark.sources.logfiles import decode_file_uri_expr

    base_ast = parse_kql(query)
    has_meta = has_range_index_filter(base_ast)
    records = telemetry_sink if telemetry_sink is not None else []
    groups: dict[tuple, dict] = {}
    for d in dirs:
        with open(os.path.join(d, _MANIFEST)) as f:
            manifest = json.load(f)
        eff_ts = timestamp_key if timestamp_key is not None else manifest.get(
            "timestamp_key"
        )
        rec = {
            "archive_id": os.path.basename(os.path.normpath(d)),
            "num_archive_records": _manifest_record_count(manifest),
            "num_matched_schemas": 0,
            "num_archive_records_matching_schemas": 0,
            "termination_stage": "",
        }
        records.append(rec)
        d_ast, ast_key = base_ast, ""
        if has_meta:
            d_ast = evaluate_range_index_filters(
                base_ast, manifest.get("range_index"), IDX_COL, ignore_case
            )
            if fold_range_index_const(d_ast, IDX_COL) is False:
                rec["termination_stage"] = "range_index_matching"
                continue
            # the rewritten bounds are this archive's own: archives share a
            # scan group only when their rewrites are equal
            ast_key = repr(d_ast)
        if _manifest_time_disjoint(manifest, timestamp_key, tge, tle):
            rec["termination_stage"] = "time_range_matching"
            continue
        for entry in manifest["schemas"]:
            if entry["schema_id"] == _SCALAR_ID:
                continue  # no keys → never matches a KQL predicate
            # log_order joins the group key: order-less tables lack the
            # idx column, so they can't share a scan with ordered ones;
            # combined-store entries likewise scan separately (their
            # columns are sid-prefixed and need the __sid__ filter)
            combined = bool(entry.get("combined"))
            key = (
                entry["schema_id"], manifest["structurize_arrays"], eff_ts,
                bool(entry.get("fmt")), manifest.get("log_order", True),
                combined, ast_key,
            )
            g = groups.setdefault(
                key,
                {"leaves": [(tuple(p), k) for p, k in entry["leaves"]],
                 "paths": [], "members": [], "ddl": entry.get("ddl"),
                 "ast": d_ast, "ts_patterns": []},
            )
            g["paths"].append(
                os.path.join(d, _COMBINED_DIR) if combined
                else os.path.join(d, f"schema_id={entry['schema_id']}")
            )
            g["members"].append((d, rec, entry.get("rows", 0)))
            for p in manifest.get("timestamp_patterns") or []:
                if p not in g["ts_patterns"]:
                    g["ts_patterns"].append(p)
    # borrow JsonArchive's compiler without (re)building an in-memory
    # archive; metadata maps the order column so bare-value filters skip it
    compiler = JsonArchive.__new__(JsonArchive)
    compiler.metadata = {IDX_COL: None}
    # archive_id recovers from the (decoded) file path
    # (…/<archive_id>/schema_id=… or …/<archive_id>/combined_tables/…) —
    # a pure projection, no extra column stored
    aid_col = F.regexp_extract(
        decode_file_uri_expr(F.input_file_name()),
        rf"/([^/]+)/(?:schema_id=|{_COMBINED_DIR}/)",
        1,
    ).alias("archive_id")
    out: DataFrame | None = None
    for (sid, structurize, eff_ts, _fmt, has_order, combined, _ak), g in groups.items():
        ast = g["ast"]
        lazy_dirs = [
            d for d, _r, _n in g["members"] if _packed_reader(d) is not None
        ]
        if lazy_dirs and _ddl_prunes(
            spark,
            {"ddl": g["ddl"]},
            structurize,
            eff_ts,
            ast,
            ignore_case,
        ):
            # manifest DDL proves the whole group unmatchable — the packed
            # archives holding it pay zero container I/O for this schema
            continue
        for d in lazy_dirs:
            _ensure_members(
                d, _COMBINED_DIR if combined else f"schema_id={sid}"
            )
        if combined:
            # archives combine independently, so their stores' column sets
            # differ — mergeSchema unions them; the __sid__ filter + prefix
            # strip recovers this schema's typed slice
            comb = spark.read.option("mergeSchema", "true").parquet(
                *sorted(set(g["paths"]))
            )
            pfx = f"{sid}::"
            # aid_col's input_file_name() still resolves through this
            # projection — same scan stage
            tbl = comb.where(F.col(_SID_COL) == sid).select(
                *[
                    F.col(f"`{c}`").alias(c[len(pfx):])
                    for c in comb.columns
                    if c.startswith(pfx)
                ],
            )
        else:
            tbl = spark.read.parquet(*g["paths"])
        leaves = g["leaves"]
        # reconstruction expression FIRST, from the untouched typed columns
        work = tbl.withColumn("__json__", _rebuild_expr(tbl, leaves, structurize))
        arr_leaves = [
            (p, k[len("array:"):]) for p, k in leaves if k.startswith("array:")
        ]
        if arr_leaves:
            varr = _rebuild_expr(
                tbl, [(p, k) for p, k in leaves if k.startswith("array:")],
                structurize,
            )
            work = work.withColumn("__v__", F.parse_json(varr))
        if eff_ts and eff_ts in work.columns:
            norm = normalize_ts_column(
                work, eff_ts, patterns=g["ts_patterns"] or None
            )
            if norm is not None:
                work = work.withColumn(eff_ts, norm)
        compiler.timestamp_key = eff_ts
        # storage internals (the reconstruction text and float-format
        # descriptor columns) must never resolve as record columns — a
        # bare-value or wildcard-column filter would otherwise probe them
        internal = ["__json__"] + [
            c for c in work.columns if c.startswith("__fmt_")
        ]
        pred = compiler._compile(
            work.drop(*internal), ast, ignore_case, arr_leaves
        )
        if pred is None:
            continue  # schema pruned — across EVERY archive holding it
        for _d, rec, rows in g["members"]:
            rec["num_matched_schemas"] += 1
            rec["num_archive_records_matching_schemas"] += rows
        hit = work.where(pred).select(
            aid_col,
            (F.col(IDX_COL) if has_order else F.lit(None).cast("long"))
            .alias(IDX_COL),
            F.col("__json__").alias("json"),
            *(
                [F.lit(sid).alias(_SID_COL)]
                if telemetry_sink is not None else []
            ),
        )
        out = hit if out is None else out.unionAll(hit)
    for rec in records:
        if not rec["termination_stage"] and not rec["num_matched_schemas"]:
            rec["termination_stage"] = "schema_matching"
    if out is None:
        # every schema pruned: an empty result with the result schema —
        # built directly so no table is read (matters for packed archives,
        # where a read would ranged-extract members just to return nothing)
        return spark.createDataFrame(
            [], "archive_id string, log_event_idx long, json string"
            + (f", {_SID_COL} string" if telemetry_sink is not None else ""),
        )
    return out


def search_json_archive(
    spark: SparkSession,
    archive_dir: str,
    query: str,
    ignore_case: bool = False,
    timestamp_key: str | None = None,
    tge: int | None = None,
    tle: int | None = None,
) -> DataFrame:
    """clp-s `s <archive> <query>` over one compressed JSON archive →
    (log_event_idx, json): ``search_json_members`` over a fleet of one."""
    return search_json_members(
        spark, [archive_dir], query, ignore_case=ignore_case,
        timestamp_key=timestamp_key, tge=tge, tle=tle,
    ).drop("archive_id")


def search_json_archives(
    spark: SparkSession,
    root: str,
    query: str,
    ignore_case: bool = False,
    timestamp_key: str | None = None,
    archive_id: str | None = None,
    tge: int | None = None,
    tle: int | None = None,
) -> DataFrame:
    """clp-s `s <archives-dir> <query>` over a DIRECTORY of JSON archives →
    (archive_id, log_event_idx, json): ``search_json_members`` over
    ``json_archive_members(root, archive_id)``."""
    return search_json_members(
        spark, json_archive_members(root, archive_id), query,
        ignore_case=ignore_case, timestamp_key=timestamp_key,
        tge=tge, tle=tle,
    )


def compress_jsonl_archives_multi(
    df: DataFrame,
    raw_col: str,
    archives_dir: str,
    target_encoded_size: int,
    order_col: str | None = None,
    structurize_arrays: bool = False,
    timestamp_key: str | None = None,
    retain_float_format: bool = True,
    record_log_order: bool = True,
    compression_level: int | None = None,
    max_document_size: int | None = 512 * 1024 * 1024,
    min_table_size: int = 0,
    source_col: str | None = None,
    source_names: dict[str, str] | None = None,
    archive_creator_id: str | None = None,
) -> dict:
    """clp-s `c --target-encoded-size`: split a JSONL stream into multiple
    self-contained JSON archives under `archives_dir` (the reference's
    ArchiveWriter closes an archive and opens the next when the encoded
    size crosses the target; each archive is independently searchable and
    reconstructable, and `search_json_archives` federates them).

    Split rule: archives cut on cumulative RAW bytes (the pre-encode proxy
    for encoded size — exact encoded size is only known after dictionary
    dedup, and the reference's own threshold check is also approximate:
    it tests after each record batch). Record order is preserved: archive
    k holds a contiguous ingestion-order range, recorded in the manifest.

    Scale note: archive assignment is one distributed prefix-sum pass
    (O(partitions) driver rows); the encode then runs as ONE pass for the
    whole batch — a single variant parse + schema grouping over every
    archive, each schema table written once with partitionBy on the archive
    id, then O(archives x schemas) driver renames into the standard
    per-archive layout (the same staging+rename model
    compress_text_logs_multi uses for text archives). Plan size and job
    count are O(distinct schemas), independent of archive count.
    """
    import shutil

    from pyspark.sql.window import Window

    from clp_spark.operators.json_search import JsonArchive

    spark = df.sparkSession
    if max_document_size is not None:
        df = _cap_document_size(df, raw_col, max_document_size)
    src = df.withColumn(
        IDX_COL,
        F.col(order_col).cast("long") if order_col
        else F.monotonically_increasing_id(),
    )
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        src.repartitionByRange(shuffle_n, F.col(IDX_COL))
        .sortWithinPartitions(IDX_COL)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_len", F.octet_length(raw_col) + F.lit(1))
        .persist()
    )
    psums = {
        r["_pid"]: r["s"]
        for r in part.groupBy("_pid").agg(F.sum("_len").alias("s")).collect()
    }
    prefix, acc = {}, 0
    for pid in sorted(psums):
        prefix[pid] = acc
        acc += psums[pid]
    off_map = F.create_map(
        *[F.lit(x) for pid, off in prefix.items() for x in (pid, off)]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(IDX_COL)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = off_map[F.col("_pid")] + F.coalesce(F.sum("_len").over(w), F.lit(0))
    assigned = part.withColumn(
        "_arch", F.floor(cum_before / F.lit(target_encoded_size))
    ).drop("_pid")
    # per-archive input row AND byte totals in one pass (bytes feed each
    # manifest's uncompressed_size stat)
    in_stats = {
        int(r["_arch"]): (int(r["n"]), int(r["b"]))
        for r in assigned.groupBy("_arch")
        .agg(F.count("*").alias("n"), F.sum("_len").alias("b"))
        .collect()
    }
    in_counts = {k: n for k, (n, _b) in in_stats.items()}
    assigned = assigned.drop("_len")
    # ONE variant parse + schema grouping across every archive
    if not record_log_order:
        source_col = None  # no stored order column → no range index
    archive = JsonArchive(
        assigned, raw_col, structurize_arrays, cache=True,
        keep_cols=(
            (IDX_COL, "_arch", source_col) if source_col
            else (IDX_COL, "_arch")
        ),
    )
    per_arch_ranges: dict[int, list[dict]] = {}
    if source_col:
        # per-(archive, file) spans with cross-archive split numbering —
        # one agg over the cached staged scan, same as the single path
        per_arch_ranges = _build_range_index(
            archive._staged, source_col, source_names,
            archive_creator_id, arch_col="_arch",
        )
    merged: dict[str, dict] = {}
    scalar_parts: list[DataFrame] = []
    for grp in archive.schema_groups:
        gpart = grp["part"]
        if retain_float_format:
            gpart = _retain_float_formats(gpart, grp["leaves"])
        typed = gpart.drop("__v__", "__raw__")
        if source_col:
            typed = typed.drop(source_col)  # range-index bookkeeping only
        if not record_log_order:
            # the idx drove archive ASSIGNMENT above but is not stored
            # (clp-s --disable-log-order, JsonParser.cpp:774)
            typed = typed.drop(IDX_COL)
        data_cols = [c for c in typed.columns if c not in (IDX_COL, "_arch")]
        if not data_cols:
            scalar_parts.append(
                grp["part"].select(
                    *([F.col(IDX_COL)] if record_log_order else []),
                    F.col("_arch"),
                    F.to_json("__v__").alias("__txt__"),
                )
            )
            continue
        sid = _schema_id(grp["leaves"])
        if sid in merged:
            merged[sid]["typed"] = merged[sid]["typed"].unionByName(typed)
        else:
            merged[sid] = {"typed": typed, "leaves": grp["leaves"],
                           "ddl": grp["ddl"]}
    staging = os.path.join(archives_dir, "_staging")
    from concurrent.futures import ThreadPoolExecutor

    # string-timestamp pattern dictionary, shared across the split archives
    # (they come from one input stream — one discovery pass suffices)
    ts_patterns: list[str] = []

    def _write_one(item):
        sid, entry = item
        path = os.path.join(staging, f"schema_id={sid}")
        # no repartition before the write: each task writes its archives'
        # slices directly, so write parallelism stays at the scan's width
        _codec(
            entry["typed"].write.mode("overwrite").partitionBy("_arch"),
            compression_level,
        ).parquet(path)
        # per-archive counts need a groupBy (Observation metrics are
        # global), so the post-write footer scan stays; the timestamp
        # range rides the same job reading just the ts column
        back = spark.read.parquet(path)
        aggs = [F.count("*").alias("n")]
        ts = _ts_norm(back, timestamp_key, ts_patterns)
        if ts is not None:
            aggs += [F.min(ts).alias("lo"), F.max(ts).alias("hi")]
        rows = back.groupBy("_arch").agg(*aggs).collect()
        counts = {int(r["_arch"]): int(r["n"]) for r in rows}
        spans = {
            int(r["_arch"]): (r["lo"], r["hi"])
            for r in rows if ts is not None
        }
        return sid, entry, counts, spans

    if merged:
        with ThreadPoolExecutor(max_workers=min(8, len(merged))) as pool:
            results = list(pool.map(_write_one, merged.items()))
    else:
        results = []
    scalar_counts: dict[int, int] = {}
    if scalar_parts:
        scal = scalar_parts[0]
        for p in scalar_parts[1:]:
            scal = scal.unionAll(p)
        path = os.path.join(staging, f"schema_id={_SCALAR_ID}")
        _codec(
            scal.write.mode("overwrite").partitionBy("_arch"),
            compression_level,
        ).parquet(path)
        scalar_counts = {
            int(r["_arch"]): int(r["n"])
            for r in spark.read.parquet(path)
            .groupBy("_arch").agg(F.count("*").alias("n")).collect()
        }
    part.unpersist()
    # O(archives x schemas) driver renames into self-contained archive dirs
    os.makedirs(archives_dir, exist_ok=True)
    per_arch: dict[int, dict] = {
        k: {"schemas": [], "rows": 0, "lo": None, "hi": None}
        for k in in_counts
    }
    for sid, entry, counts, spans in results:
        src_root = os.path.join(staging, f"schema_id={sid}")
        for k, (lo, hi) in spans.items():
            a = per_arch[k]
            if lo is not None:
                a["lo"] = lo if a["lo"] is None else min(a["lo"], lo)
            if hi is not None:
                a["hi"] = hi if a["hi"] is None else max(a["hi"], hi)
        for k, n in counts.items():
            dst = os.path.join(
                archives_dir, f"archive_{k:06d}", f"schema_id={sid}"
            )
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(os.path.join(src_root, f"_arch={k}"), dst)
            per_arch[k]["schemas"].append(
                {
                    "schema_id": sid,
                    "ddl": entry["ddl"],
                    "leaves": [[list(p), kk] for p, kk in entry["leaves"]],
                    "rows": n,
                    "fmt": any(
                        c.startswith("__fmt_") for c in entry["typed"].columns
                    ),
                }
            )
            per_arch[k]["rows"] += n
    if scalar_counts:
        src_root = os.path.join(staging, f"schema_id={_SCALAR_ID}")
        for k, n in scalar_counts.items():
            dst = os.path.join(
                archives_dir, f"archive_{k:06d}", f"schema_id={_SCALAR_ID}"
            )
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(os.path.join(src_root, f"_arch={k}"), dst)
            per_arch[k]["schemas"].append(
                {"schema_id": _SCALAR_ID, "ddl": None, "leaves": None,
                 "rows": n}
            )
            per_arch[k]["rows"] += n
    shutil.rmtree(staging, ignore_errors=True)
    summaries = []
    total_invalid = 0
    last_k = max(in_counts) if in_counts else None
    for k in sorted(in_counts):
        name = f"archive_{k:06d}"
        out = os.path.join(archives_dir, name)
        os.makedirs(out, exist_ok=True)
        invalid = in_counts[k] - per_arch[k]["rows"]
        total_invalid += invalid
        manifest = {
            "structurize_arrays": structurize_arrays,
            "timestamp_key": timestamp_key,
            **({"timestamp_patterns": ts_patterns} if ts_patterns else {}),
            "log_order": record_log_order,
            "schemas": per_arch[k]["schemas"],
            "invalid": invalid,
            "uncompressed_size": in_stats[k][1],
            "begin_timestamp": per_arch[k]["lo"],
            "end_timestamp": per_arch[k]["hi"],
            # the reference closes every archive but the final one with
            # close(is_split=true) while splitting (JsonParser.cpp:1406,1411)
            "is_split": k != last_k,
        }
        if source_col:
            manifest["range_index"] = per_arch_ranges.get(k, [])
        with open(os.path.join(out, _MANIFEST), "w") as f:
            json.dump(manifest, f)
        s = {
            "archive": name,
            "schemas": len(per_arch[k]["schemas"]),
            "rows": per_arch[k]["rows"],
            "invalid": invalid,
            "dir": out,
        }
        if min_table_size:
            s["combined_tables"] = combine_small_tables(
                spark, out, min_table_size, compression_level
            )
        summaries.append(s)
    if total_invalid:
        raise ValueError(f"{total_invalid} input rows are not valid JSON")
    return {
        "archives": len(summaries),
        "rows": sum(s["rows"] for s in summaries),
        "invalid": total_invalid,
        "dir": archives_dir,
        "per_archive": summaries,
    }


def archive_timestamp_patterns(archive_dir: str) -> list[str]:
    """The string-timestamp CAT patterns recorded at compression (empty
    when the key was numeric or unset) — the timestamp-dictionary pattern
    table (TimestampDictionaryWriter parity)."""
    try:
        with open(os.path.join(archive_dir, _MANIFEST)) as f:
            return json.load(f).get("timestamp_patterns") or []
    except OSError:
        return []


def archive_timestamp_key(archive_dir: str) -> str | None:
    """The timestamp key recorded at compression (None if unset)."""
    with open(os.path.join(archive_dir, _MANIFEST)) as f:
        return json.load(f).get("timestamp_key")


def archive_stats(archive_dir: str) -> dict:
    """One clp-s `--print-archive-stats` line (ArchiveWriter.hpp:64-78
    ArchiveStats::as_string; field names from streaming_archive
    Constants.hpp): id, begin/end timestamp (0 when the archive has no
    timestamp key), uncompressed input bytes, on-disk compressed size, and
    the split flag. All but `size` are manifest reads; `size` is one
    directory walk over the archive's own files."""
    with open(os.path.join(archive_dir, _MANIFEST)) as f:
        manifest = json.load(f)
    size = 0
    for root, _dirs, files in os.walk(archive_dir):
        size += sum(os.path.getsize(os.path.join(root, n)) for n in files)
    return {
        "id": os.path.basename(os.path.normpath(archive_dir)),
        "begin_timestamp": manifest.get("begin_timestamp") or 0,
        "end_timestamp": manifest.get("end_timestamp") or 0,
        "uncompressed_size": manifest.get("uncompressed_size", 0),
        "size": size,
        "is_split": bool(manifest.get("is_split", False)),
    }


def localize_single_file_archives(path: str, lazy: bool = True) -> str:
    """Make packed archives readable by the directory-based readers —
    WITHOUT unpacking what the plan won't touch.

    * `path` is a single-file archive → register a direct reader over a
      session tempdir and return that archive DIRECTORY.
    * `path` is a directory holding single-file archives (possibly mixed
      with normal archive subdirs) → build a tempdir where each packed
      archive gets a direct reader under its own name and each normal
      archive subdir is symlinked, and return that root (so
      `discover_json_archives` sees every archive).
    * anything else → returned unchanged.

    Direct-read semantics (the reference's ArchiveReaderAdaptor,
    components/core/src/clp_s/ArchiveReaderAdaptor.cpp:88-92,196,327): only
    the tiny manifest is materialized up front; every schema-table member
    is ranged-read out of the container on demand when a search/extract
    plan actually loads it (`_load_schema_table` → `_ensure_members`), and
    schema tables the query compiler prunes from the manifest DDL alone
    never leave the container. A selective search over a packed fleet reads
    bytes proportional to the MATCHED schemas, not the container sizes.
    ``lazy=False`` restores the eager full unpack (tests compare the two).

    Scratch dirs are removed at process exit either way.
    """
    import atexit
    import shutil
    import tempfile

    from clp_spark.sinks.single_file_archive import (
        PackedArchiveReader,
        is_single_file_archive,
        unpack_archive,
    )

    def _tmp() -> str:
        d = tempfile.mkdtemp(prefix="clps_sfa_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        return d

    def _attach(sfa_path: str, out_dir: str) -> None:
        if not lazy:
            unpack_archive(sfa_path, out_dir)
            return
        reader = PackedArchiveReader(sfa_path, out_dir)
        reader.ensure([_MANIFEST])  # the catalog row: tiny, always needed
        _PACKED_READERS[os.path.realpath(out_dir)] = reader

    if is_single_file_archive(path):
        out = os.path.join(_tmp(), os.path.basename(path) or "archive")
        _attach(path, out)
        return out
    if not os.path.isdir(path):
        return path
    try:
        entries = sorted(os.scandir(path), key=lambda e: e.name)
    except NotADirectoryError:
        return path
    packed = [e for e in entries if e.is_file()
              and is_single_file_archive(e.path)]
    if not packed:
        return path
    root = _tmp()
    for e in packed:
        _attach(e.path, os.path.join(root, e.name))
    for e in entries:
        if e.is_dir() and is_json_archive(e.path):
            os.symlink(os.path.abspath(e.path), os.path.join(root, e.name))
    return root
