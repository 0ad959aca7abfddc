"""Command-line surface mirroring the reference binaries.

    python -m clp_spark.cli c <archive-dir> <input-path...>     # clp c
    python -m clp_spark.cli x <archive-dir> [--file F] [-o DIR] # clp x
    python -m clp_spark.cli s <archive-dir> "wildcard query"    # clg / clp s
    python -m clp_spark.cli s-kql <jsonl-path> "kql"            # clp-s s
    python -m clp_spark.cli convert <out-dir> <input-path...>   # log converter (text -> kv-IR)
    python -m clp_spark.cli kv-import <out-dir> <jsonl...>      # JSON logs -> structured kv-IR
    python -m clp_spark.cli kv-export <kv-chunks-dir>           # kv-IR -> typed leaf rows
    python -m clp_spark.cli pipeline ...                        # tokens ingest

Reference CLIs: clp c/x (clp/clp/CommandLineArguments.cpp), clg
(clp/clg/CommandLineArguments.cpp), clp-s c/s/x
(clp_s/CommandLineArguments.cpp). Flags kept to the load-bearing subset:
--ignore-case, --count, --count-by-time, --limit, --structurize-arrays.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _spark(master: str, show_progress: bool = False) -> SparkSession:
    from clp_spark.plans.pipeline import session_defaults

    builder = session_defaults(
        SparkSession.builder.master(master)
        .appName("clp-spark-cli")
        .config("spark.sql.shuffle.partitions", "32")
    )
    if show_progress:
        # `clp c --progress` (CommandLineArguments.cpp:355-357) prints
        # per-file progress to stderr; the distributed analog is the
        # engine's live stage progress bar (same channel, same cadence:
        # one updating line as work completes)
        builder = builder.config("spark.ui.showConsoleProgress", "true")
    return builder.getOrCreate()


def _clp_s_canonical_names(
    files: list[str], normalize: bool, prefix: str | None, remove_slash: bool
) -> dict[str, str]:
    """abs input path → canonical stored name, the clp-s input bookkeeping
    (CommandLineArguments.cpp:479-566): --normalize-paths canonicalizes
    (realpath) the path AND the prefix; --remove-path-prefix removes it
    component-wise (result keeps its leading '/'); --remove-leading-slash
    then strips that. Validation errors match the reference's."""
    from clp_spark.operators.json_archive import remove_path_prefix

    pfx = None
    if prefix:
        if not os.path.exists(prefix):
            sys.exit("error: Specified prefix to remove does not exist.")
        if not os.path.isdir(prefix):
            sys.exit("error: Specified prefix to remove is not a directory.")
        pfx = os.path.realpath(prefix) if normalize else prefix
    names: dict[str, str] = {}
    for p in files:
        ap = os.path.abspath(p)
        name = os.path.realpath(ap) if normalize else ap
        if pfx is not None:
            r = remove_path_prefix(name, pfx)
            if r is None:
                sys.exit(
                    f'error: Failed to remove prefix "{pfx}" from path '
                    f'"{name}".'
                )
            name = r
        if remove_slash and name.startswith("/"):
            name = name[1:]
        names[ap] = name
    return names


def cmd_compress(args) -> None:
    from clp_spark.sources.network import localize_inputs

    if args.single_file_archive and not args.json:
        sys.exit("error: --single-file-archive requires --json (clp-s "
                 "structured archives only, like the reference)")
    if args.print_archive_stats and not args.json:
        sys.exit("error: --print-archive-stats requires --json (a clp-s "
                 "flag in the reference)")
    if (args.normalize_paths or args.remove_leading_slash) and not args.json:
        sys.exit("error: --normalize-paths/--remove-leading-slash are clp-s "
                 "flags (require --json)")
    if args.timestamp_key:
        # JsonParser.cpp:167-171: the timestamp key is an exact column
        # descriptor — unescaped wildcards are rejected at startup
        import re as _re2

        if _re2.search(r"(?<!\\)[*?]", args.timestamp_key):
            sys.exit("error: Timestamp key can not contain wildcards: "
                     f'"{args.timestamp_key}"')
    if args.json and (
        args.target_segment_size is not None
        or args.target_dictionaries_size is not None
    ):
        sys.exit("error: --target-segment-size/--target-dictionaries-size "
                 "are clp (text archive) flags")
    if args.json and args.print_archive_stats_progress:
        # the JSON mode's stats surface is --print-archive-stats (clp-s);
        # stats-progress is the text archiver's flag (clp
        # CommandLineArguments.cpp:351) and the JSON branch never reaches
        # its emitter — error loudly instead of silently ignoring it
        sys.exit("error: --print-archive-stats-progress is a clp (text "
                 "archive) flag; use --print-archive-stats with --json")
    if args.files_from:
        # clp/clp-s `--files-from/-f FILE`: one input path per line
        # (clp utils.cpp:89-107 read_input_paths; empty list = error)
        if not os.path.exists(args.files_from):
            sys.exit(f"error: '{args.files_from}' does not exist.")
        with open(args.files_from) as f:
            listed = [ln.strip() for ln in f if ln.strip()]
        if not listed:
            sys.exit(f"error: '{args.files_from}' did not contain any paths")
        args.inputs = list(args.inputs) + listed
    if not args.inputs:
        sys.exit("error: No input paths specified.")
    if args.compression == "lzma":
        # the reference ships an lzma streaming codec
        # (clp/streaming_compression/lzma/) but parquet has no LZMA codec —
        # honest parity is zstd + passthrough, with lzma named unsupported
        sys.exit("error: lzma is not supported by the parquet storage "
                 "substrate; use zstd or passthrough")
    if args.compression == "passthrough" and args.compression_level is not None:
        sys.exit("error: --compression-level is a zstd level; it cannot "
                 "combine with --compression passthrough")
    try:
        args.inputs = localize_inputs(args.inputs, auth=args.auth)
    except ValueError as exc:
        sys.exit(f"error: {exc}")
    from clp_spark.sources.logfiles import (
        compress_text_logs,
        compress_text_logs_multi,
        list_local_log_files,
    )

    spark = _spark(args.master, show_progress=args.progress)
    if args.compression == "passthrough":
        # the reference's passthrough codec (streaming_compression/
        # passthrough/) = uncompressed storage; pinned at the session so
        # every sink in either mode honors it
        spark.conf.set("spark.sql.parquet.compression.codec", "uncompressed")
    if args.compression_level is not None and not args.json:
        # text archives write through many sinks; pin the codec at the
        # session so every table honors `clp c --compression-level`
        spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
        spark.sparkContext._jsc.hadoopConfiguration().set(
            "parquet.compression.codec.zstd.level",
            str(args.compression_level),
        )
    if args.json:
        # clp-s c: JSONL → per-schema typed tables + ordered-reconstruction
        # manifest (operators/json_archive.py)
        from pyspark.sql import functions as F

        from clp_spark.operators.json_archive import (
            archive_stats,
            compress_jsonl_archive,
        )
        from clp_spark.sources.logfiles import expand_tar_inputs

        # clp-s deduces each input's type by content (JsonParser.cpp:
        # 655-669): structured kv-IR streams ingest via ingest_kvir, the
        # rest as JSONL. Local files sniff by preamble VERSION; remote
        # URIs read as JSONL.
        inputs = expand_tar_inputs(args.inputs)
        kv_inputs: list[str] = []
        zst_inputs: list[str] = []
        is_local = not any(
            "://" in p and not p.startswith("file:") for p in inputs
        )
        if is_local:
            from clp_spark.sources.kv_ir import is_kv_ir_file
            from clp_spark.sources.logfiles import classify_log_input

            expanded = list_local_log_files(inputs)
            kv_inputs = [p for p in expanded if is_kv_ir_file(p)]
            rest = [p for p in expanded if p not in set(kv_inputs)]
            # container-wrapped JSONL (clp-s InputConfig Zstd→Json
            # nesting; xz/bz2 accepted as a superset matching the text
            # path's libarchive coverage): spark.read.text has no codec
            # for these, so they route through the binaryFile +
            # magic-dispatched decompression reader
            zst_inputs = [
                p for p in rest
                if classify_log_input(p) in ("zst", "xz", "bz2")
            ]
            inputs = [p for p in rest if p not in set(zst_inputs)]
        # canonical stored names for the range index (clp-s records one
        # range entry per ingested file; --normalize-paths /
        # --remove-path-prefix / --remove-leading-slash shape the name,
        # CommandLineArguments.cpp:479-566 — filesystem sources only)
        src_names = (
            _clp_s_canonical_names(
                [*inputs, *zst_inputs, *kv_inputs],
                normalize=args.normalize_paths,
                prefix=args.remove_path_prefix,
                remove_slash=args.remove_leading_slash,
            )
            if is_local else None
        )
        df = None
        if inputs or (not kv_inputs and not zst_inputs):
            df = (
                spark.read.text(inputs)
                .withColumnRenamed("value", "raw")
                .withColumn("_rec_ix", F.monotonically_increasing_id())
                .withColumn("_src_file", F.input_file_name())
            )
        if zst_inputs:
            import os as _os

            from clp_spark.sources.logfiles import read_zstd_log_lines

            # per-file record order from line_no; files rank in path order
            # (same _rec_ix shape as the kv route); base 1<<51 orders zst
            # records after plain JSONL and before kv streams
            zlines = read_zstd_log_lines(spark, zst_inputs)
            ranks = spark.createDataFrame(
                [
                    (_os.path.abspath(p.removeprefix("file://")
                                      .removeprefix("file:")), i)
                    for i, p in enumerate(zst_inputs)
                ],
                "abs_path string, _rank long",
            )
            # container paths are raw scheme-stripped binaryFile paths —
            # no decoding needed (it would corrupt '+' / crash on '%')
            z_df = (
                zlines.withColumn("abs_path", F.col("container"))
                .join(F.broadcast(ranks), "abs_path")
                .select(
                    F.col("line").alias("raw"),
                    (
                        F.lit(1 << 51)
                        + F.shiftleft(F.col("_rank"), 40)
                        + F.col("line_no")
                    ).alias("_rec_ix"),
                    F.col("abs_path").alias("_src_file"),
                )
            )
            df = z_df if df is None else df.unionByName(z_df)
        if kv_inputs:
            from clp_spark.sources.kv_ir import read_kv_ir_stream_records

            # kv records order after any JSONL records: mono ids are
            # partition_id<<33 + row, so 1<<52 clears them — and after the
            # container band, whose width is len(zst_inputs)<<40 (a fleet
            # ingest of >2048 containers would otherwise overlap kv ids)
            kv_df = read_kv_ir_stream_records(
                spark, kv_inputs,
                rec_ix_base=max(
                    1 << 52, (1 << 51) + (len(zst_inputs) << 40)
                ),
                with_source="_src_file",
            )
            df = kv_df if df is None else df.unionByName(kv_df)
        if args.target_encoded_size is not None:
            # clp-s --target-encoded-size: split into multiple archives
            from clp_spark.operators.json_archive import (
                compress_jsonl_archives_multi,
            )

            summary = compress_jsonl_archives_multi(
                df, "raw", args.archive, args.target_encoded_size,
                order_col="_rec_ix",
                structurize_arrays=args.structurize_arrays,
                timestamp_key=args.timestamp_key,
                retain_float_format=not args.no_retain_float_format,
                record_log_order=not args.disable_log_order,
                compression_level=args.compression_level,
                max_document_size=args.max_document_size,
                min_table_size=args.min_table_size,
                source_col="_src_file",
                source_names=src_names,
            )
            stats_lines = (
                [archive_stats(s["dir"]) for s in summary["per_archive"]]
                if args.print_archive_stats else []
            )
            if args.single_file_archive:
                # pack each produced archive dir into one file named by its
                # archive id (ArchiveWriter.cpp:145-147 writes archives_dir/id
                # and removes the directory)
                import shutil

                from clp_spark.sinks.single_file_archive import pack_archive

                for i, s in enumerate(summary["per_archive"]):
                    d = s["dir"]
                    pack_archive(
                        d, d + ".sfa",
                        timestamp_dict=(
                            {"timestamp_key": args.timestamp_key}
                            if args.timestamp_key else None
                        ),
                    )
                    shutil.rmtree(d)
                    os.replace(d + ".sfa", d)
                    if stats_lines:
                        # compressed size = the packed file, like the
                        # reference's single-file ArchiveStats
                        stats_lines[i]["size"] = os.path.getsize(d)
                summary["single_file_archives"] = len(summary["per_archive"])
        else:
            out_dir = (
                args.archive + ".unpacked" if args.single_file_archive
                else args.archive
            )
            summary = compress_jsonl_archive(
                df, "raw", out_dir, order_col="_rec_ix",
                structurize_arrays=args.structurize_arrays,
                timestamp_key=args.timestamp_key,
                retain_float_format=not args.no_retain_float_format,
                record_log_order=not args.disable_log_order,
                compression_level=args.compression_level,
                max_document_size=args.max_document_size,
                min_table_size=args.min_table_size,
                source_col="_src_file",
                source_names=src_names,
            )
            stats_lines = (
                [archive_stats(out_dir)] if args.print_archive_stats else []
            )
            if args.single_file_archive:
                import shutil

                from clp_spark.sinks.single_file_archive import pack_archive

                sfa = pack_archive(
                    out_dir, args.archive,
                    timestamp_dict=(
                        {"timestamp_key": args.timestamp_key}
                        if args.timestamp_key else None
                    ),
                )
                shutil.rmtree(out_dir)
                summary["dir"] = args.archive
                summary["single_file_archive"] = sfa
                if stats_lines:
                    stats_lines[0]["id"] = os.path.basename(
                        os.path.normpath(args.archive)
                    )
                    stats_lines[0]["size"] = os.path.getsize(args.archive)
        for line in stats_lines:
            # clp-s --print-archive-stats: one JSON line per archive on
            # stdout at close (ArchiveWriter.cpp:125-128)
            print(json.dumps(line))
        print(json.dumps(summary))
        return
    if args.schema_path:
        # clp c --schema-path: user-defined variable schemas; the archive
        # stores schema.txt so `s` auto-selects schema-aware compilation
        if args.glt or args.target_archive_size is not None or (
            args.target_encoded_file_size_text is not None
        ):
            sys.exit("error: --schema-path builds single plain-layout "
                     "archives (not --glt / --target-archive-size / "
                     "--target-encoded-file-size)")
        from clp_spark.operators.schema_archive import compress_schema_logs

        with open(args.schema_path) as f:
            schema_text = f.read()
        summary = compress_schema_logs(
            spark, args.inputs, args.archive, schema_text
        )
        print(json.dumps(summary))
        return
    if args.remove_path_prefix:
        # clp c --remove-path-prefix validation
        # (CommandLineArguments.cpp:419-424 + compression.cpp:271-277)
        pfx = os.path.abspath(args.remove_path_prefix)
        if not os.path.exists(pfx):
            sys.exit("error: specified prefix does not exist")
        if not os.path.isdir(pfx):
            sys.exit("error: specified prefix is not a directory")
        for p in args.inputs:
            if not os.path.abspath(p).startswith(pfx.rstrip("/") + "/"):
                sys.exit(f"error: '{p}' does not contain prefix '{pfx}'")
    if args.target_encoded_file_size_text is not None and (
        args.glt or args.target_archive_size is not None
    ):
        sys.exit("error: --target-encoded-file-size applies to single "
                 "plain-layout text archives (not --glt or "
                 "--target-archive-size)")
    if args.target_segment_size is not None and args.target_segment_size < 1:
        # CommandLineArguments.cpp:411-414
        sys.exit("error: Target segment size must be non-zero.")
    if args.target_dictionaries_size is not None:
        # dictionaries-size cuts happen between files, so they imply the
        # multi-archive flow (the reference's `clp c` always writes an
        # archives DIRECTORY and splits when dictionaries fill,
        # compression.cpp:128,156)
        if args.target_dictionaries_size < 1:
            sys.exit("error: Target data size of dictionaries must be "
                     "non-zero.")
        if args.glt or args.target_encoded_file_size_text is not None:
            sys.exit("error: --target-dictionaries-size splits into "
                     "multiple plain-layout archives (not --glt / "
                     "--target-encoded-file-size)")
    if args.target_archive_size is not None or (
        args.target_dictionaries_size is not None
    ):
        # archive splitting: <archive> is an archives DIRECTORY; inputs are
        # grouped/cut into archive-sized tasks (searchable via `s <dir>`)
        summary = compress_text_logs_multi(
            spark,
            list_local_log_files(args.inputs),
            args.archive,
            args.target_archive_size
            if args.target_archive_size is not None else 1 << 62,
            lock_patterns=not args.no_pattern_lock,
            remove_path_prefix=args.remove_path_prefix,
            sort_input_files=args.sort_input_files == "true",
            target_dictionaries_size=args.target_dictionaries_size,
            target_segment_size=args.target_segment_size,
        )
    else:
        summary = compress_text_logs(
            spark, args.inputs, args.archive,
            lock_patterns=not args.no_pattern_lock,
            glt_layout=args.glt,
            combine_threshold_pct=args.combine_threshold,
            remove_path_prefix=args.remove_path_prefix,
            target_encoded_file_size=args.target_encoded_file_size_text,
            target_segment_size=args.target_segment_size,
        )
    if args.metadata_db:
        # global metadata catalog (GlobalSQLiteMetadataDB parity): register
        # the archives + per-file rows for CLP-tooling discovery
        from clp_spark.sinks.metadata_db import record_archives_dir

        root = (
            args.archive
            if args.target_archive_size is not None  # <archive> IS the dir
            else os.path.dirname(os.path.abspath(args.archive))
        )
        summary["metadata_db_archives"] = record_archives_dir(
            spark, args.metadata_db, root
        )
    if args.print_archive_stats_progress:
        # clp c --print-archive-stats-progress (Archive.cpp:247-248,
        # 703-709): one {"id", "uncompressed_size", "size"} JSON line per
        # archive at close; the distributed flow emits each archive's line
        # as its directory finalizes into the standard layout
        from clp_spark.operators.federation import METADATA_FILE

        multi = (
            args.target_archive_size is not None
            or args.target_dictionaries_size is not None
        )
        dirs = (
            sorted(
                os.path.join(args.archive, d)
                for d in os.listdir(args.archive)
                if os.path.isfile(os.path.join(args.archive, d, METADATA_FILE))
            )
            if multi
            else [args.archive]
        )
        for d in dirs:
            try:
                with open(os.path.join(d, METADATA_FILE)) as f:
                    meta = json.load(f)
            except FileNotFoundError:
                continue
            print(json.dumps({
                "id": os.path.basename(os.path.normpath(d)),
                "uncompressed_size": meta.get("raw_bytes", 0),
                "size": meta.get("archive_bytes", 0),
            }))
    if args.progress:
        # the reference's final progress line (compression.cpp:143-147)
        nf = len(list_local_log_files(args.inputs))
        print(f"Compressed {nf}/{nf} files", file=sys.stderr)
    print(json.dumps(summary))


def cmd_extract(args) -> None:
    from clp_spark.operators.json_archive import (
        is_json_archive,
        localize_single_file_archives,
    )
    from clp_spark.sources.logfiles import decompress_file, extract_to_files

    # clp-s validates both chunk flags against --ordered
    # (CommandLineArguments.cpp:678-689)
    if not args.ordered:
        if args.target_ordered_chunk_size:
            sys.exit("error: target-ordered-chunk-size must be used with "
                     "ordered argument")
        if args.print_ordered_chunk_stats:
            sys.exit("error: print-ordered-chunk-stats must be used with "
                     "ordered argument")
    args.archive = localize_single_file_archives(args.archive)
    spark = _spark(args.master)
    from clp_spark.operators.json_archive import discover_json_archives

    def _chunk_stats(summary: dict) -> None:
        # clp-s --print-ordered-chunk-stats: one {"path": ...} JSON line
        # per finalized chunk (JsonConstructor.cpp:139-144)
        if args.print_ordered_chunk_stats:
            for name in summary["files"]:
                print(json.dumps({"path": os.path.join(args.output, name)}))

    json_archive_dirs = (
        [args.archive] if is_json_archive(args.archive)
        else discover_json_archives(args.archive)
    )
    if args.paths and (json_archive_dirs or is_json_archive(args.archive)):
        sys.exit("error: path positionals apply to text-log archives "
                 "(clp x); clp-s archives reconstruct whole")
    if args.archive_id is not None:
        # clp-s x --archive-id (CommandLineArguments.cpp:605-608): only the
        # named subdirectory archive decompresses
        if not json_archive_dirs or is_json_archive(args.archive):
            sys.exit("error: --archive-id needs a directory of JSON "
                     "archives")
        picked = [
            d for d in json_archive_dirs
            if os.path.basename(os.path.normpath(d)) == args.archive_id
        ]
        if not picked:
            sys.exit(f"error: no archive with ID '{args.archive_id}'")
        json_archive_dirs = picked
    if json_archive_dirs and not is_json_archive(args.archive):
        # clp-s x over a DIRECTORY of archives: each reconstructs into the
        # same output dir; chunk names carry the archive id so they never
        # collide (JsonConstructor names files {archive_id}_{first}_{last+1});
        # without --ordered every archive appends to the one "original" file
        from clp_spark.operators.json_archive import reconstruct_jsonl_chunks

        if not args.output:
            sys.exit("error: extracting an archives directory needs -o DIR")
        total = {"archives": 0, "rows": 0, "files": []}
        for d in json_archive_dirs:
            s = reconstruct_jsonl_chunks(
                spark, d, args.output,
                target_chunk_size=args.target_ordered_chunk_size or 0,
                ordered=args.ordered,
            )
            _chunk_stats(s)
            total["archives"] += 1
            total["rows"] += s["rows"]
            for name in s["files"]:
                if name not in total["files"]:
                    total["files"].append(name)
        print(json.dumps({**total, "output": args.output}))
        return
    if is_json_archive(args.archive):
        # clp-s x: JSONL reconstruction (JsonConstructor parity) — default
        # out-of-order into one "original" file, --ordered = in-order chunks
        from clp_spark.operators.json_archive import (
            reconstruct_jsonl, reconstruct_jsonl_chunks,
        )

        if args.output:
            # construct_in_order file naming: {archive_id}_{first}_{last+1}
            # .jsonl; --target-ordered-chunk-size splits on byte size
            summary = reconstruct_jsonl_chunks(
                spark, args.archive, args.output,
                target_chunk_size=args.target_ordered_chunk_size or 0,
                ordered=args.ordered,
            )
            _chunk_stats(summary)
            print(json.dumps({**summary, "output": args.output}))
        else:
            for r in reconstruct_jsonl(spark, args.archive).collect():
                print(r["json"])
        return
    wanted = list(args.paths or [])
    if args.file:
        wanted.append(args.file)
    if args.output:
        # reference `clp x` semantics: recreate one file per original input
        summary = extract_to_files(
            spark, args.archive, args.output, file_id=wanted or None
        )
        print(json.dumps({**summary, "output": args.output}))
    else:
        out = decompress_file(spark, args.archive, file_id=wanted or None)
        for r in out.collect():
            print(r["message"])


def _file_path_pred(col, path: str):
    """file_id match tolerant of URI spelling: archives store Hadoop URIs
    (file:///a/b.log, percent-encoded) while users type plain paths —
    compare with the scheme, duplicate slashes, AND percent-encoding
    normalized away on both sides ('+' stays literal in both forms)."""
    import re as _re

    from clp_spark.sources.logfiles import decode_file_uri, decode_file_uri_expr

    norm = decode_file_uri(_re.sub(r"^file:/+", "file:///", path))
    col_norm = decode_file_uri_expr(col)
    return (col == F.lit(path)) | (col_norm == F.lit(norm))


def _emit_search_results(res, args, ts_lookup=None) -> None:
    """Final result emission for `s` — the clg output methods
    (clg CommandLineArguments.cpp:67-74): 's' prints each decompressed
    message (print_result_text), 'b' writes the reference's binary framing
    to stdout: <u64 path-len><path bytes><i64 ts-ms><u64 logtype-id>
    <u64 msg-len><msg bytes>, little-endian (clg.cpp:420-470
    print_result_binary). ``ts_lookup`` (doc_id → ts_ms) supplies the
    timestamp field when the result set doesn't carry one; results with no
    stored timestamp write 0."""
    out = res
    if getattr(args, "max_num_results", None):
        # clo -m/--max-num-results (OutputHandler.hpp latest-N min-heap):
        # keep the n results with the largest timestamps —
        # TakeOrderedAndProject, no full sort
        if "ts_ms" not in out.columns and ts_lookup is not None:
            out = out.join(ts_lookup, "doc_id", "left")
        if "ts_ms" in out.columns:
            out = out.orderBy(F.desc_nulls_last("ts_ms"))
        out = out.limit(args.max_num_results)
    if args.limit is not None:
        out = out.limit(args.limit)
    if getattr(args, "output_handler", "stdout") == "network":
        _send_results_network(out, args, ts_lookup)
        return
    if getattr(args, "output_method", "s") != "b":
        for r in out.collect():
            print(r["message"])
        return
    import struct

    if "ts_ms" not in out.columns and ts_lookup is not None:
        out = out.join(ts_lookup, "doc_id", "left")
    has_ts = "ts_ms" in out.columns
    has_lt = "logtype_id" in out.columns
    buf = sys.stdout.buffer
    for r in out.collect():
        path = (r["source"] or "").encode("utf-8", "surrogateescape")
        msg = (r["message"] or "").encode("utf-8", "surrogateescape")
        ts = r["ts_ms"] if has_ts else None
        lt = r["logtype_id"] if has_lt else None
        buf.write(struct.pack("<Q", len(path)))
        buf.write(path)
        buf.write(struct.pack("<q", int(ts) if ts is not None else 0))
        buf.write(struct.pack("<Q", int(lt) if lt is not None else 0))
        buf.write(struct.pack("<Q", len(msg)))
        buf.write(msg)
    buf.flush()


def _send_results_network(out, args, ts_lookup=None) -> None:
    """clo's network output handler (clo/OutputHandler.hpp:68-115,
    OutputHandler.cpp:20-44): connect to host:port and send each result as
    one msgpack tuple (ts_ms, message, orig_file_path, orig_file_id,
    log_event_ix); the socket closes at flush. Results stream driver-side
    in archive order, the same bounded sink every CLI output method uses.
    doc_id here is "<file_id>#<msg_ix>", so the id/event-index fields
    recover by splitting it."""
    import socket

    from clp_spark.sinks.single_file_archive import msgpack_pack

    if "ts_ms" not in out.columns and ts_lookup is not None:
        out = out.join(ts_lookup, "doc_id", "left")
    has_ts = "ts_ms" in out.columns
    has_doc = "doc_id" in out.columns
    with socket.create_connection((args.host, args.port)) as sk:
        for r in out.collect():
            ts = int(r["ts_ms"]) if has_ts and r["ts_ms"] is not None else 0
            fid, ix = "", 0
            if has_doc and r["doc_id"]:
                fid, _, tail = str(r["doc_id"]).rpartition("#")
                ix = int(tail) if tail.isdigit() else 0
                if not fid:
                    fid = str(r["doc_id"])
            sk.sendall(msgpack_pack(
                (ts, r["message"] or "", r["source"] or "", fid, ix)
            ))


def _search_query_list(args) -> list[str]:
    """clg/clo query-string handling (clg.cpp:503-521, clo.cpp:505): every
    wildcard string gets implicit '*' wrapping (substring-match semantics),
    and `-f FILE` supplies multiple strings (one per line, empties
    skipped) that OR together. --regex queries control their own anchoring
    through the translator, so they skip the wrap."""
    if getattr(args, "queries_from", None):
        if args.query is not None:
            sys.exit("error: QUERY and -f/--file are mutually exclusive")
        if not os.path.exists(args.queries_from):
            sys.exit(f"error: '{args.queries_from}' does not exist.")
        with open(args.queries_from) as f:
            qs = [ln.rstrip("\n") for ln in f]
        qs = [q for q in qs if q]
        if not qs:
            sys.exit(f"error: '{args.queries_from}' did not contain any "
                     "search strings")
    else:
        if args.query is None:
            sys.exit("error: no wildcard string specified")
        qs = [args.query]
    if getattr(args, "regex", False):
        return qs
    return ["*" + q + "*" for q in qs]


def _union_query_results(run, queries):
    """OR across query strings (clg.cpp:210-241 builds one query vector;
    search_files emits each message once if ANY query matches): union the
    per-query plans, dedup on the message key when more than one query ran."""
    res = run(queries[0])
    for q in queries[1:]:
        res = res.unionByName(run(q))
    if len(queries) > 1:
        res = res.dropDuplicates(["doc_id"]) if "doc_id" in res.columns \
            else res.dropDuplicates()
    return res


def cmd_search(args) -> None:
    from clp_spark.operators.aggregate import count_by_time, count_matched
    from clp_spark.operators.seg_index import search_archive_pruned
    from clp_spark.operators.search import search_archive

    import os as _os

    if args.count_by_time is not None and args.count_by_time <= 0:
        sys.exit("error: --count-by-time needs a positive bucket size in ms")
    if args.output_handler == "network":
        # the reference's count handlers are distinct output handlers
        # (clo CountOutputHandler / reducer), so they can't stack on network
        if args.count or args.count_by_time is not None:
            sys.exit("error: --count/--count-by-time cannot combine with "
                     "the network output handler")
        if not args.host or args.port is None:
            sys.exit("error: the network output handler needs --host and "
                     "--port")
    elif args.output_handler == "reducer":
        _require_reducer_args(
            args, args.count or args.count_by_time is not None
        )
    # clg time flags (clg/CommandLineArguments.cpp:216-257): --teq is
    # exclusive with every other time flag and pins both bounds; --tgt/--tlt
    # are the strict forms (begin = tgt+1, end = tlt-1) and can't combine
    # with their inclusive twins. All normalize onto the [tge, tle] range
    # the rest of the search machinery (and catalog pruning) consumes.
    if args.teq is not None:
        if any(x is not None for x in (args.tgt, args.tge, args.tlt, args.tle)):
            sys.exit("error: --teq cannot be specified with any other "
                     "timestamp filtering option")
        args.tge = args.tle = args.teq
    else:
        if args.tgt is not None:
            if args.tge is not None:
                sys.exit("error: --tgt cannot be used with --tge")
            args.tge = args.tgt + 1
        if args.tlt is not None:
            if args.tle is not None:
                sys.exit("error: --tlt cannot be used with --tle")
            args.tle = args.tlt - 1
    if args.tge is not None and args.tle is not None and args.tge > args.tle:
        sys.exit("error: empty timestamp range")
    if getattr(args, "regex", False):
        # regex front-end (reference clp::regex_utils::regex_to_wildcard):
        # a translatable regex becomes a wildcard query and rides the
        # dictionary-first path — dict probe + segment pruning instead of
        # a full scan. Untranslatable patterns fail with the reference's
        # error semantics rather than silently degrading.
        from clp_spark.functions.regex_translate import (
            RegexTranslationError, TranslatorConfig, regex_to_wildcard,
        )

        try:
            queries = [
                regex_to_wildcard(
                    q,
                    TranslatorConfig(
                        case_insensitive_wildcard=args.ignore_case,
                        add_prefix_suffix_wildcards=True,
                    ),
                )
                for q in _search_query_list(args)
            ]
        except RegexTranslationError as exc:
            sys.exit(f"error: regex not translatable to wildcard: {exc}")
    else:
        queries = _search_query_list(args)
    spark = _spark(args.master)
    # archives DIRECTORY (clg semantics: search every archive, time-pruned)
    # vs a single archive dir — detected by where sinks/ lives
    local_root = args.archive.removeprefix("file:")
    if "://" not in args.archive or args.archive.startswith("file:"):
        import os as _os2

        if not _os2.path.isdir(_os2.path.join(local_root, "sinks")):
            from clp_spark.operators.federation import (
                discover_archives,
                search_archives,
            )

            if not discover_archives(local_root):
                sys.exit(f"error: {args.archive} contains no archives")
            res = _union_query_results(
                lambda q: search_archives(
                    spark, local_root, q, args.ignore_case,
                    ts_lo=args.tge, ts_hi=args.tle,
                ),
                queries,
            )
            if args.file_path:
                # clg --file-path: only messages from one original file
                res = res.where(_file_path_pred(F.col("source"), args.file_path))
            if args.count:
                if args.output_handler == "reducer":
                    _send_reducer_count(res, args)
                else:
                    print(count_matched(res).collect()[0]["cnt"])
            elif args.count_by_time is not None:
                cbt = res.where(F.col("ts_ms").isNotNull())
                if args.output_handler == "reducer":
                    _send_reducer_count_by_time(cbt, "ts_ms", args)
                else:
                    rows = count_by_time(
                        cbt, F.col("ts_ms"), args.count_by_time,
                    ).orderBy("bucket_ts").collect()
                    for r in rows:
                        print(r["bucket_ts"], r["cnt"])
            else:
                _emit_search_results(res, args)
            return
    # one sinks read, reused for the columns probe / search input / ts join
    raw_sinks = spark.read.option("basePath", f"{args.archive}/sinks").parquet(
        f"{args.archive}/sinks"
    )
    if args.file_path:
        # clg --file-path: partition-prunes the scan (sinks partition on
        # file_id), so only that file's segments are read at all
        if "file_id" not in raw_sinks.columns:
            sys.exit("error: --file-path needs a text-log archive")
        raw_sinks = raw_sinks.where(
            _file_path_pred(F.col("file_id"), args.file_path)
        )
    # --tge/--tle in single-archive mode: per-message timestamp filter
    # (archives-dir mode handled above via catalog pruning + pushdown)
    want_ts = args.tge is not None or args.tle is not None
    if want_ts and "ts_ms" not in raw_sinks.columns:
        sys.exit(
            "error: --tge/--tle need an archive with per-message timestamps "
            "(text-log archives carry ts_ms; token-pipeline archives do not)"
        )

    def _ts_filter(df):
        if args.tge is not None:
            df = df.where(F.col("ts_ms") >= F.lit(args.tge))
        if args.tle is not None:
            df = df.where(F.col("ts_ms") <= F.lit(args.tle))
        return df
    # the segment index lives next to local archives; remote (hadoop-fs)
    # archives skip the local-path probe and run unpruned rather than crash
    is_local = "://" not in args.archive or args.archive.startswith("file:")
    has_index = is_local and _os.path.exists(
        args.archive.removeprefix("file:") + "/seg_index"
    )
    from clp_spark.operators.glt import is_glt_archive, search_glt_archive
    from clp_spark.operators.schema_archive import (
        archive_schema_text,
        search_schema_archive,
    )

    if is_local and archive_schema_text(args.archive) is not None:
        # archive built with `c --schema-path`: compile schema-aware
        # (use_heuristic=false) against the stored schema file
        res = _union_query_results(
            lambda q: search_schema_archive(
                spark, args.archive, q, args.ignore_case
            ),
            queries,
        )
        if args.file_path:
            res = res.where(_file_path_pred(F.col("source"), args.file_path))
        if want_ts:
            res = res.join(
                raw_sinks.select(
                    F.concat_ws("#", "file_id", "msg_ix").alias("doc_id"),
                    "ts_ms",
                ),
                "doc_id",
            ).transform(_ts_filter).drop("ts_ms")
    elif is_local and is_glt_archive(local_root):
        # GLT archive: candidate logtypes prune to their tables (partition
        # filter on lt_table) before any segment I/O — the glt.md:7 path
        res = _union_query_results(
            lambda q: search_glt_archive(
                spark, args.archive, q, args.ignore_case
            )[0],
            queries,
        )
        if args.file_path:
            res = res.where(_file_path_pred(F.col("source"), args.file_path))
        if want_ts:
            res = res.join(
                raw_sinks.select(
                    F.concat_ws("#", "file_id", "msg_ix").alias("doc_id"),
                    "ts_ms",
                ),
                "doc_id",
            ).transform(_ts_filter).drop("ts_ms")
    elif has_index and "split" in raw_sinks.columns:
        res = _union_query_results(
            lambda q: search_archive_pruned(
                spark, args.archive, q, args.ignore_case
            )[0],
            queries,
        )
        if want_ts:
            # pruned-path results carry ts_ms when the archive stores it
            res = _ts_filter(res) if "ts_ms" in res.columns else res.join(
                raw_sinks.select(
                    F.concat_ws("#", "file_id", "msg_ix").alias("doc_id"),
                    "ts_ms",
                ),
                "doc_id",
            ).transform(_ts_filter).drop("ts_ms")
    else:
        sinks = raw_sinks
        if want_ts:
            sinks = _ts_filter(sinks)  # pushed to the scan — prune first
        if "doc_id" not in sinks.columns:  # text-log archives key by file/msg
            sinks = sinks.withColumn(
                "doc_id", F.concat_ws("#", "file_id", "msg_ix")
            ).withColumn("source", F.col("file_id"))
        lt = spark.read.parquet(f"{args.archive}/logtype_dict")
        vd = spark.read.parquet(f"{args.archive}/var_dict")
        res = _union_query_results(
            lambda q: search_archive(sinks, lt, vd, q, args.ignore_case),
            queries,
        )
    if args.count:
        if args.output_handler == "reducer":
            _send_reducer_count(res, args)
        else:
            print(count_matched(res).collect()[0]["cnt"])
    elif args.count_by_time is not None:
        if "ts_ms" not in raw_sinks.columns:
            sys.exit(
                "error: --count-by-time needs an archive with per-message "
                "timestamps (text-log archives carry ts_ms; token-pipeline "
                "archives do not)"
            )
        cbt = res.join(
            raw_sinks.select(
                F.concat_ws("#", "file_id", "msg_ix").alias("doc_id"), "ts_ms"
            ),
            "doc_id",
        )
        if args.output_handler == "reducer":
            _send_reducer_count_by_time(cbt, "ts_ms", args)
        else:
            rows = count_by_time(
                cbt, F.col("ts_ms"), args.count_by_time,
            ).orderBy("bucket_ts").collect()
            for r in rows:
                print(r["bucket_ts"], r["cnt"])
    else:
        ts_lookup = None
        if "ts_ms" in raw_sinks.columns:
            ts_lookup = (
                raw_sinks.select("doc_id", "ts_ms")
                if "doc_id" in raw_sinks.columns
                else raw_sinks.select(
                    F.concat_ws("#", "file_id", "msg_ix").alias("doc_id"),
                    "ts_ms",
                )
            )
        _emit_search_results(res, args, ts_lookup)


def _emit_federated_telemetry(
    t_sink: list, shape: dict, args, start_ns: int,
    error: str | None = None,
) -> None:
    """One telemetry span per member archive on the federated path (the
    reference's per-archive search loop emits one each, clp-s.cpp:437),
    exported as ONE batched OTLP request — a 10k-archive fleet must not
    issue 10k sequential POSTs. Spans share the job's start time (the
    grouped one-job plan searches every member together, so per-archive
    wall time is the job's). Pruned archives carry their termination
    stage; every span carries the archive's record count; scanned
    archives omit the match counters (per-archive match attribution
    does not exist in the single-plan shape, documented in STATUS.md).
    A job-level failure marks every member span failed, like the
    reference's per-archive error recording. ``shape`` is the query's
    shape metrics, computed before the search starts."""
    from clp_spark.operators.telemetry import SearchTelemetrySpan, export_spans

    payloads = []
    for rec in t_sink:
        span = SearchTelemetrySpan(start_ns=start_ns)
        span.set_query_context(args.query)
        span.set_query_shape_metrics(shape)
        span.set_archive_context(rec["archive_id"])
        span.set_termination_stage(rec["termination_stage"])
        if rec["termination_stage"]:
            span.set_search_result_metrics(
                num_archive_records=rec["num_archive_records"]
            )
        else:
            span.set_archive_record_count(rec["num_archive_records"])
        if error is not None:
            span.set_error(error)
        payloads.append(span.span_payload())
    export_spans(payloads)


def _require_reducer_args(args, flags_ok: bool) -> None:
    """Shared validation for `--output-handler reducer` (clp-s
    CommandLineArguments.cpp:1239-1248 + clp-s.cpp:326-331: job-id
    required, and the handler only carries the count and count-by-time
    aggregations)."""
    if not flags_ok:
        sys.exit("error: the reducer output handler only supports the "
                 "count and count-by-time aggregations")
    if not args.host or args.port is None:
        sys.exit("error: the reducer output handler needs --host and --port")
    if args.job_id is None:
        sys.exit("error: job-id must be specified.")
    if args.job_id < 0:
        sys.exit("error: job-id cannot be negative.")


def _send_reducer_count(res, args) -> None:
    """Stream per-partition partial counts to the reducer (clo
    CountOutputHandler / clp-s CountReducerOutputHandler)."""
    from clp_spark.streaming.reducer import spark_send_count

    spark_send_count(res, args.host, args.port, args.job_id)


def _send_reducer_count_by_time(res, ts_col: str, args) -> None:
    """Stream per-partition bucket counts to the reducer (clo
    CountByTimeOutputHandler / clp-s CountByTimeReducerOutputHandler)."""
    from clp_spark.streaming.reducer import spark_send_count_by_time

    spark_send_count_by_time(
        res, ts_col, args.count_by_time, args.host, args.port, args.job_id
    )


def _kql_agg_flags(args) -> list[str]:
    return [
        f for f, on in (
            ("count", args.count),
            ("count-by-time", args.count_by_time is not None),
            ("min", args.min is not None),
            ("max", args.max is not None),
            ("unique", args.unique is not None),
        ) if on
    ]


def _json_ts_ms(v, patterns=None):
    """Value-based twin of the archive's schema-based timestamp
    normalization: digit-only lexeme = already epoch ms; other numerics =
    double epoch seconds; anything else CAT-parses with the archive's
    recorded string patterns (manifest timestamp_patterns)."""
    num = F.when(v.rlike("^-?[0-9]+$"), v.try_cast("long")).otherwise(
        F.round(v.try_cast("double") * 1000).try_cast("long")
    )
    if not patterns:
        return num
    from clp_spark.operators.json_search import string_ts_ms

    return F.coalesce(num, string_ts_ms(v, patterns))


def _kql_aggregate(res, json_col: str, args, ts_patterns=None) -> bool:
    """clp-s search aggregators (--count / --count-by-time / --min / --max /
    --unique, mutually exclusive — reference CommandLineArguments.cpp:783-798,
    1166-1184; aggregators.hpp:66-183). Returns True if an aggregate flag
    handled the output.

    min/max keep the reference's EXACT cross-type int64/double ordering
    (int_float_compare.hpp): integral and float values aggregate in
    separate typed passes and the two candidates are combined with
    Python's exact numeric comparison — never a lossy cast of int64 to
    double."""
    field = args.min or args.max or args.unique
    if field is not None and any(c in field for c in "*?"):
        sys.exit("error: the --min, --max, and --unique field must not "
                 "contain wildcards")
    to_reducer = getattr(args, "output_handler", "stdout") == "reducer"
    if args.count:
        if to_reducer:
            _send_reducer_count(res, args)
        else:
            print(res.count())
        return True
    if args.count_by_time is not None:
        from clp_spark.operators.aggregate import count_by_time

        if not args.timestamp_key:
            sys.exit("error: --count-by-time needs --timestamp-key "
                     "(or an archive compressed with one)")
        key = args.timestamp_key.split(":", 1)[0]
        ts = _json_ts_ms(
            F.get_json_object(F.col(json_col), "$." + key), ts_patterns
        )
        if to_reducer:
            _send_reducer_count_by_time(
                res.select(ts.alias("__ts_ms__")).where(
                    F.col("__ts_ms__").isNotNull()
                ),
                "__ts_ms__", args,
            )
            return True
        rows = count_by_time(
            res.where(ts.isNotNull()), ts, args.count_by_time
        ).orderBy("bucket_ts").collect()
        for r in rows:
            print(r["bucket_ts"], r["cnt"])
        return True
    if field is None:
        return False
    v = F.get_json_object(F.col(json_col), "$." + field)
    vals = res.select(v.alias("v")).where(F.col("v").isNotNull())
    if args.unique is not None:
        for r in vals.distinct().orderBy("v").collect():
            print(r["v"])
        return True
    agg = F.min if args.min is not None else F.max
    integral = F.col("v").rlike(r"^-?\d+$")
    row = vals.agg(
        agg(F.when(integral, F.col("v").cast("long"))).alias("i"),
        agg(F.when(~integral, F.col("v").cast("double"))).alias("d"),
    ).collect()[0]
    cands = [x for x in (row["i"], row["d"]) if x is not None]
    if not cands:
        sys.exit("error: field matched no records")
    pick = min(cands) if args.min is not None else max(cands)
    print(int(pick) if isinstance(pick, int) else pick)
    return True


def _kql_with_ts_range(query: str, key: str | None, tge, tle) -> str:
    """clp-s AddTimestampConditions (clp-s.cpp:180-199): AND the --tge/--tle
    range conditions on the authoritative timestamp column into the query
    AST; error out when the archive has no such column."""
    if tge is None and tle is None:
        return query
    if not key:
        sys.exit(
            "error: --tge/--tle specified, but no authoritative timestamp "
            "column was found (pass --timestamp-key or compress the archive "
            "with one)"
        )
    conds = [f"({query})"]
    if tge is not None:
        conds.append(f"{key} >= {tge}")
    if tle is not None:
        conds.append(f"{key} <= {tle}")
    return " AND ".join(conds)


def _latest_n(res, json_col: str, key: str | None, n: int,
              ts_patterns=None):
    """clp-s --max-num-results (OutputHandlerImpl.cpp:155-178): keep the n
    results with the LARGEST authoritative timestamps — the reference's
    min-heap, Spark's TakeOrderedAndProject (no full sort at scale).
    Without a timestamp key every record ties (the reference heaps
    identical timestamps), so this degrades to an arbitrary n."""
    if key is None:
        return res.limit(n)
    ts = _json_ts_ms(
        F.get_json_object(F.col(json_col), "$." + key), ts_patterns
    )
    return (
        res.withColumn("__ts__", ts)
        .orderBy(F.desc_nulls_last("__ts__"))
        .limit(n)
        .drop("__ts__")
    )


def _apply_projection(res, json_col: str, paths: list[str]):
    """clp-s `--projection COLUMN...` (CommandLineArguments.cpp:759-765,
    search/Projection.hpp:24-79): output only the given leaf columns,
    nested structure preserved, absent keys omitted. Wildcards and
    duplicate columns are rejected like the reference; values that are
    objects/structured arrays are unsupported there and unvalidated here.

    Typed via Spark's variant (`parse_json` + `try_variant_get`) so
    numbers/bools/strings keep their JSON types in the projected output
    (a `get_json_object` string round-trip would quote numbers). One
    divergence, documented: a record where EVERY projected leaf under a
    prefix is absent emits `"prefix":{}` rather than omitting the prefix.
    """
    seen = set()
    for p in paths:
        if any(c in p for c in "*?"):
            sys.exit("error: projection columns must not contain wildcards")
        if p in seen:
            sys.exit(f"error: duplicate projection column: {p}")
        seen.add(p)
    v = F.parse_json(F.col(json_col))
    tree: dict = {}
    for p in paths:
        parts = p.split(".")
        node = tree
        for q in parts[:-1]:
            node = node.setdefault(q, {})
        node[parts[-1]] = p
    def build(node):
        fields = []
        for k, sub in node.items():
            if isinstance(sub, dict):
                fields.append(build(sub).alias(k))
            else:
                fields.append(F.try_variant_get(v, "$." + sub, "variant").alias(k))
        return F.struct(*fields)
    return res.withColumn(json_col, F.to_json(build(tree)))


def _json_path_get(obj, dotted: str | None):
    """Resolve a dotted key path inside a parsed JSON object; None when any
    step is missing or non-object."""
    if not dotted:
        return None
    for part in dotted.split("."):
        if not isinstance(obj, dict) or part not in obj:
            return None
        obj = obj[part]
    return obj


def _emit_kql_results(out, col: str, args, archive_id: str = "",
                      ts_key: str | None = None) -> None:
    """clp-s output handlers (clp-s.cpp:296-342, OutputHandlerImpl.cpp:
    31-72): stdout prints each serialized record; file and network emit
    one msgpack tuple (timestamp, message, orig_file_path, archive_id,
    log_event_idx) per result — the orig-file-path slot is an empty
    placeholder in the reference too. Driver-side bounded sink, like
    every CLI output path."""
    handler = getattr(args, "output_handler", "stdout")
    rows = out.collect()
    if handler == "stdout":
        for r in rows:
            print(r[col])
        return

    from clp_spark.sinks.single_file_archive import msgpack_pack

    # kv-IR direct-search rows carry their event index as `event_ix`
    idx_col = next(
        (c for c in ("log_event_idx", "event_ix") if c in out.columns), None
    )
    has_aid = "archive_id" in out.columns

    def _tuple_bytes(r) -> bytes:
        msg = r[col]
        ts = 0
        if ts_key:
            v = _json_path_get(json.loads(msg), ts_key)
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                ts = int(v)
        idx = r[idx_col] if idx_col else None
        aid = r["archive_id"] if has_aid else archive_id
        return msgpack_pack(
            (ts, msg, "", aid or "", int(idx) if idx is not None else 0)
        )

    if handler == "file":
        with open(args.path, "wb") as f:
            for r in rows:
                f.write(_tuple_bytes(r))
        return
    import socket

    with socket.create_connection((args.host, args.port)) as sk:
        for r in rows:
            sk.sendall(_tuple_bytes(r))


def _kv_ir_stream_paths(input_path: str) -> list[str]:
    """Inputs that ARE raw kv-IR streams (a .clp/.clp.zst file, or a
    directory of them) — the clp-s `s` routing check
    (clp-s.cpp:499-516 sniffs the IR file kind per input path)."""
    import glob as _glob

    from clp_spark.sources.kv_ir import is_kv_ir_file

    p = input_path.removeprefix("file:")
    if os.path.isfile(p):
        return [p] if is_kv_ir_file(p) else []
    if os.path.isdir(p):
        return sorted(
            x for x in _glob.glob(os.path.join(p, "*"))
            if os.path.isfile(x) and is_kv_ir_file(x)
        )
    return []


def _search_kv_ir_streams(spark, paths: list[str], args) -> None:
    """clp-s `s` over raw kv-IR streams (clp-s.cpp:499-516 →
    kv_ir_search.cpp search_kv_ir_stream): events matching the KQL query
    emit as reconstructed JSON records through the normal output
    handlers. Aggregations beyond --count are unsupported on this path,
    like the reference (kv_ir_search.hpp). Two vectorized passes over the
    streams (leaf-row search, then JSON render of matched events only) —
    both mapInArrow, parallel per stream file."""
    from clp_spark.operators.kv_ir_search import search_kv_ir
    from clp_spark.sources.kv_ir import kv_ir_to_json_df

    flags = [f for f in _kql_agg_flags(args) if "count" not in f]
    if flags or args.count_by_time is not None:
        sys.exit("error: aggregations are not supported when searching "
                 "kv-IR streams directly (kv_ir_search parity); compress "
                 "into an archive first")
    query = _kql_with_ts_range(
        args.query, args.timestamp_key, args.tge, args.tle
    )
    blobs = (
        spark.read.format("binaryFile").load(paths)
        .select(F.col("path").alias("stream"), F.col("content").alias("ir"))
    )
    rows = search_kv_ir(blobs, query, ignore_case=args.ignore_case)
    keys = rows.select("stream", "chunk_ix", "event_ix").distinct()
    if args.count:
        if getattr(args, "output_handler", "stdout") == "reducer":
            _send_reducer_count(keys, args)
        else:
            print(keys.count())
        return
    # keys (tiny: matched event keys) feeds BOTH the stream prune and the
    # final event join — persist so the vectorized leaf search over every
    # stream blob runs once, not once per consumer
    keys = keys.persist()
    try:
        # render pass touches ONLY streams that produced a match
        # (left-semi prune before the decode — at fleet scale a selective
        # query renders a handful of files, not the whole input set)
        matched = blobs.join(
            keys.select("stream").distinct(), "stream", "left_semi"
        )
        recs = kv_ir_to_json_df(matched).join(
            keys, ["stream", "chunk_ix", "event_ix"]
        )
        if args.max_num_results is not None:
            recs = _latest_n(
                recs, "json", args.timestamp_key, args.max_num_results
            )
        if args.projection:
            recs = _apply_projection(recs, "json", args.projection)
        out = recs.limit(args.limit) if args.limit is not None else recs
        _emit_kql_results(out, "json", args, ts_key=args.timestamp_key)
    finally:
        keys.unpersist()


def cmd_search_kql(args) -> None:
    from clp_spark.operators.json_archive import (
        is_json_archive,
        localize_single_file_archives,
    )
    from clp_spark.operators.json_search import search_jsonl

    flags = _kql_agg_flags(args)
    if len(flags) > 1:
        sys.exit("error: the --count, --count-by-time, --min, --max, and "
                 "--unique options are mutually exclusive")
    if args.output_handler == "reducer":
        _require_reducer_args(
            args, bool(flags) and all(
                f in ("count", "count-by-time") for f in flags
            ),
        )
    elif args.output_handler != "stdout":
        # aggregates route to the reducer handler in the reference, not
        # the file/network record stream
        if flags:
            sys.exit("error: aggregation options cannot combine with the "
                     f"{args.output_handler} output handler")
        if args.output_handler == "file" and not args.path:
            sys.exit("error: the file output handler needs --path")
        if args.output_handler == "network" and (
                not args.host or args.port is None):
            sys.exit("error: the network output handler needs --host and "
                     "--port")
    if os.path.exists(args.input):
        args.input = localize_single_file_archives(args.input)
    spark = _spark(args.master)
    kv_paths = _kv_ir_stream_paths(args.input)
    if kv_paths:
        # clp-s `s` routes IR-file inputs to the direct kv-IR search
        _search_kv_ir_streams(spark, kv_paths, args)
        return
    from clp_spark.operators.json_archive import discover_json_archives

    if not is_json_archive(args.input) and discover_json_archives(args.input):
        # clp-s `s <archives-dir>`: a DIRECTORY of JSON archives searches
        # federated in one Spark job; --archive-id restricts to one
        from clp_spark.operators.json_archive import (
            archive_timestamp_key,
            archive_timestamp_patterns,
            search_json_archives,
        )

        ts_key = args.timestamp_key or archive_timestamp_key(
            discover_json_archives(args.input)[0]
        )
        ts_pats: list[str] = []
        for d in discover_json_archives(args.input):
            for p in archive_timestamp_patterns(d):
                if p not in ts_pats:
                    ts_pats.append(p)
        query = _kql_with_ts_range(args.query, ts_key, args.tge, args.tle)
        t_sink = (
            [] if getattr(args, "enable_telemetry", False) else None
        )
        t_shape = None
        if t_sink is not None:
            # parsed once, before the search: a query that fails to parse
            # raises here, and the telemetry in `finally` cannot re-raise
            # over the original error
            from clp_spark.operators.kql import parse_kql
            from clp_spark.operators.telemetry import query_shape_metrics

            t_shape = query_shape_metrics(parse_kql(query), args.tge, args.tle)
        t_start = time.time_ns() if t_sink is not None else 0
        t_err: str | None = None
        try:
            res = search_json_archives(
                spark, args.input, query,
                ignore_case=args.ignore_case,
                timestamp_key=args.timestamp_key,
                archive_id=args.archive_id,
                tge=args.tge, tle=args.tle,
                telemetry_sink=t_sink,
            )
            if not _kql_aggregate(res, "json", args, ts_pats):
                if args.max_num_results is not None:
                    res = _latest_n(res, "json", ts_key,
                                    args.max_num_results, ts_pats)
                if args.projection:
                    res = _apply_projection(res, "json", args.projection)
                out = (res.limit(args.limit) if args.limit is not None
                       else res)
                _emit_kql_results(out, "json", args, ts_key=ts_key)
        except BaseException as exc:
            t_err = str(exc)
            raise
        finally:
            if t_sink is not None:
                _emit_federated_telemetry(
                    t_sink, t_shape, args, t_start, error=t_err
                )
        return
    if args.archive_id:
        sys.exit("error: --archive-id needs a directory of JSON archives")
    if is_json_archive(args.input):
        # compressed JSON archive: search the typed tables directly
        # (clp-s `s <archive>` — no raw JSON re-parse)
        from clp_spark.operators.json_archive import (
            archive_timestamp_key,
            archive_timestamp_patterns,
            search_json_archive,
        )

        if args.timestamp_key is None:
            args.timestamp_key = archive_timestamp_key(args.input)
        ts_pats = archive_timestamp_patterns(args.input)

        query = _kql_with_ts_range(
            args.query, args.timestamp_key, args.tge, args.tle
        )
        tinfo = {} if getattr(args, "enable_telemetry", False) else None
        span = None
        cached = None
        if tinfo is not None:
            # clp-s --enable-telemetry: one span per archive search
            # (SearchTelemetry.cpp; clp-s.cpp:141-176,209-215). The query
            # hash covers the RAW user query (the reference hashes
            # get_query() before the timestamp-condition transform); the
            # SHAPE metrics walk the transformed query, where the
            # injected range conditions count as predicates — same as
            # the reference's post-AddTimestampConditions create().
            from clp_spark.operators.telemetry import SearchTelemetrySpan

            span = SearchTelemetrySpan()
            span.set_query_context(args.query)
        try:
            if span is not None:
                from clp_spark.operators.kql import parse_kql
                from clp_spark.operators.telemetry import (
                    query_shape_metrics,
                )

                span.set_query_shape_metrics(
                    query_shape_metrics(
                        parse_kql(query), args.tge, args.tle
                    )
                )
            res = search_json_archive(
                spark, args.input, query,
                ignore_case=args.ignore_case,
                timestamp_key=args.timestamp_key,
                telemetry_info=tinfo,
                tge=args.tge, tle=args.tle,
            )
            if span is not None:
                span.set_archive_context(tinfo.get("archive_id", ""))
                # one bounded aggregation over the (already small)
                # result set supplies the match-side counters
                cached = res = res.persist()
                agg = res.agg(
                    F.count("*").alias("n"),
                    F.countDistinct("__sid__").alias("s"),
                ).collect()[0]
                span.set_search_result_metrics(
                    num_archive_records=tinfo["num_archive_records"],
                    num_archive_records_matching_schemas=(
                        tinfo["num_archive_records_matching_schemas"]
                    ),
                    num_archive_records_matching_query=agg["n"],
                    num_matched_schemas=tinfo["num_matched_schemas"],
                    num_schemas_with_matches=int(agg["s"] or 0),
                )
                span.set_termination_stage(tinfo["termination_stage"])
                res = res.drop("__sid__")
            if not _kql_aggregate(res, "json", args, ts_pats):
                if args.max_num_results is not None:
                    res = _latest_n(
                        res, "json", args.timestamp_key,
                        args.max_num_results, ts_pats,
                    )
                if args.projection:
                    res = _apply_projection(res, "json", args.projection)
                out = (res.limit(args.limit) if args.limit is not None
                       else res)
                _emit_kql_results(
                    out, "json", args,
                    archive_id=os.path.basename(
                        os.path.normpath(args.input)
                    ),
                    ts_key=args.timestamp_key,
                )
        except BaseException as exc:
            if span is not None:
                span.set_error(str(exc))
            raise
        finally:
            if span is not None:
                span.end()
            if cached is not None:
                cached.unpersist()
        return
    df = spark.read.text(args.input).withColumnRenamed("value", "raw")
    query = _kql_with_ts_range(
        args.query, args.timestamp_key, args.tge, args.tle
    )
    res = search_jsonl(
        df, "raw", query,
        ignore_case=args.ignore_case,
        structurize_arrays=args.structurize_arrays,
        timestamp_key=args.timestamp_key,
    )
    if not _kql_aggregate(res, "raw", args):
        if args.max_num_results is not None:
            res = _latest_n(
                res, "raw", args.timestamp_key, args.max_num_results
            )
        if args.projection:
            res = _apply_projection(res, "raw", args.projection)
        out = res.limit(args.limit) if args.limit is not None else res
        _emit_kql_results(out, "raw", args, ts_key=args.timestamp_key)


def cmd_kv_import(args) -> None:
    from clp_spark.sources.network import localize_inputs

    try:
        args.inputs = localize_inputs(args.inputs, auth=args.auth)
    except ValueError as exc:
        sys.exit(f"error: {exc}")
    """JSON-lines logs → structured kv-IR chunk rows (one stream per file).
    spark.read.json infers the nested schema; NULL/absent keys are omitted
    per event (kv_ir.py scope notes)."""
    from clp_spark.sources.kv_ir import events_to_kv_ir_df
    from clp_spark.sources.logfiles import expand_tar_inputs

    args.inputs = expand_tar_inputs(args.inputs)
    spark = _spark(args.master)
    # _rec_ix preserves within-file record order through the per-stream
    # repartition (clp-s keeps source record order in the emitted IR;
    # ADVICE r02). monotonically_increasing_id is (partition_ix << 33) +
    # row-in-partition, and the JSON reader assigns partition indices in
    # file-offset order, so sorting by it within a file is source order.
    df = (
        spark.read.option("multiLine", "false").json(args.inputs)
        .withColumn("_stream", F.input_file_name())
        .withColumn("_rec_ix", F.monotonically_increasing_id())
    )
    if args.timestamp_key:
        # clp-s --timestamp-key analog: parse the named string key with a
        # CAT pattern and attach the epoch-ms value as an extra kv pair
        from clp_spark.functions.cat_parser import parse_cat_timestamp_ms

        key, _, pat = args.timestamp_key.partition(":")
        if not pat:
            sys.exit("error: --timestamp-key needs key:CATpattern")
        df = df.withColumn("_ts_ms", parse_cat_timestamp_ms(F.col(key), pat))
    chunks = events_to_kv_ir_df(
        df, "_stream", events_per_chunk=args.events_per_chunk,
        order_col="_rec_ix",
        encoding="four" if args.four_byte else "eight",
    )
    chunks.write.mode("overwrite").parquet(args.output)
    stats = spark.read.parquet(args.output).agg(
        F.count("*").alias("chunks"),
        F.sum("n_events").alias("events"),
        F.sum(F.length("ir")).alias("ir_bytes"),
    ).collect()[0]
    print(json.dumps({
        "chunks": int(stats["chunks"]),
        "events": int(stats["events"] or 0),
        "ir_bytes": int(stats["ir_bytes"] or 0),
    }))


def cmd_kv_search(args) -> None:
    """Direct KQL search over kv-IR chunk rows (clp-s kv_ir_search parity:
    no archive build, no aggregations); prints matching events' leaf rows
    as JSON lines."""
    from clp_spark.operators.kv_ir_search import search_kv_ir

    spark = _spark(args.master)
    rows = search_kv_ir(
        spark.read.parquet(args.chunks), args.query,
        ignore_case=args.ignore_case,
    )
    if args.count:
        print(rows.select("stream", "chunk_ix", "event_ix").distinct().count())
        return
    for r in rows.toJSON().toLocalIterator():
        print(r)


def cmd_kv_export(args) -> None:
    """kv-IR chunk rows → typed leaf rows printed as JSON lines."""
    from clp_spark.sources.kv_ir import kv_ir_to_rows_df

    spark = _spark(args.master)
    rows = kv_ir_to_rows_df(spark.read.parquet(args.chunks))
    if args.count:
        print(rows.count())
        return
    out = rows.orderBy("stream", "chunk_ix", "event_ix", "path").collect()
    for r in out[: args.limit]:
        print(json.dumps(r.asDict(), default=str))


def cmd_convert(args) -> None:
    from clp_spark.sources.network import localize_inputs

    try:
        args.inputs = localize_inputs(args.inputs, auth=args.auth)
    except ValueError as exc:
        sys.exit(f"error: {exc}")
    from clp_spark.sources.logfiles import convert_to_ir

    spark = _spark(args.master)
    summary = convert_to_ir(
        spark, args.inputs, args.output,
        events_per_chunk=args.events_per_chunk,
        lock_patterns=not args.no_pattern_lock,
        encoding="four" if args.four_byte else "eight",
    )
    print(json.dumps(summary))


def cmd_extract_ir(args) -> None:
    """`clo i` analog: archive → IR chunk files for one file split (or the
    whole archive) — the log-viewer's search→open-file→stream-IR leg.

    With --msg-ix, <archive> is an ARCHIVES DIRECTORY and the global
    metadata db locates the (archive, file split) containing that message
    of --file-id's original file (`clp i` flow, decompression.cpp:274-298
    get_file_split)."""
    from clp_spark.sources.logfiles import extract_ir_from_archive

    archive_dir = args.archive
    if args.file_split_id is not None:
        # clo i's positional file-split-id (CommandLineArguments.cpp:
        # 207-222): the split addresses DIRECTLY by its files-table id —
        # no message-index resolution; <archive> is the one archive that
        # holds it (clo is handed (archive-path, file-split-id) by the
        # scheduler). Split ids carry the `#s<ix>` suffix our files table
        # records for split archives; a plain id is an unsplit file.
        if args.msg_ix is not None or args.file_id is not None:
            sys.exit("error: --file-split-id replaces --file-id/--msg-ix "
                     "(it already names one split)")
        fid = args.file_split_id
        # files-table ids are "<archive>/<stored path>[#s<ix>]" — drop the
        # archive segment (same transform the --msg-ix resolution applies);
        # the remaining stored path suffix-matches the sinks' file_id
        fid = fid.split("/", 1)[1] if "/" in fid else fid
        split_ix = None
        if "#s" in fid:
            fid, _, six = fid.rpartition("#s")
            if not six.isdigit():
                sys.exit(f"error: malformed file split id "
                         f"{args.file_split_id!r}")
            split_ix = int(six)
        args.file_id = fid
        args.split_ix = split_ix
    if args.msg_ix is not None:
        from clp_spark.sinks.metadata_db import GlobalMetadataDB

        if args.file_id is None:
            sys.exit("error: --msg-ix needs --file-id (the original file)")
        db_path = args.metadata_db or os.path.join(args.archive, "metadata.db")
        if not os.path.exists(db_path):
            sys.exit(f"error: no metadata db at {db_path} (pass "
                     "--metadata-db, or record one at compression)")
        db = GlobalMetadataDB(db_path)
        hit = db.get_file_split(args.file_id, args.msg_ix)
        db.close()
        if hit is None:
            sys.exit(f"error: failed to find file split containing "
                     f"msg_ix {args.msg_ix}")
        archive_id, split_id = hit
        archive_dir = os.path.join(args.archive, archive_id)
        fid = split_id.split("/", 1)[1] if "/" in split_id else split_id
        split_ix = None
        if "#s" in fid:  # split archives: files-table ids end in #s<ix>
            fid, _, six = fid.rpartition("#s")
            split_ix = int(six)
        args.file_id = fid
        args.split_ix = split_ix
    spark = _spark(args.master)
    summary = extract_ir_from_archive(
        spark, archive_dir, args.output,
        file_id=args.file_id,
        events_per_chunk=args.events_per_chunk,
        encoding="four" if args.four_byte else "eight",
        split_ix=getattr(args, "split_ix", None),
        chunk_compression=args.chunk_compression,
        target_size=args.target_size,
    )
    if args.print_ir_stats:
        # clo i --print-ir-stats (clo.cpp:229-234): one ndjson {"path": …}
        # line per extracted IR chunk file
        manifest_path = os.path.join(args.output, "ir_manifest.jsonl")
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                for line in f:
                    m = json.loads(line)
                    print(json.dumps(
                        {"path": os.path.join(args.output, m["path"])}
                    ))
    print(json.dumps(summary))


def cmd_readable_dicts(args) -> None:
    from clp_spark.operators.readable_dicts import make_dictionaries_readable

    spark = _spark(args.master)
    print(json.dumps(make_dictionaries_readable(spark, args.archive, args.output)))


class _VersionAction(argparse.Action):
    """-V/--version: print the bare version string to stderr and exit —
    the reference prints cVersion to cerr and stops
    (clg/CommandLineArguments.cpp:188-192)."""

    def __call__(self, parser, namespace, values, option_string=None):
        from clp_spark import __version__

        print(__version__, file=sys.stderr)
        parser.exit(0)


def default_config_file_path() -> str:
    """$HOME/.clp.rc, falling back to ./.clp.rc when HOME is unset
    (clp/Defs.h cDefaultConfigFilename, clg/CommandLineArguments.cpp:34-43)."""
    home = os.environ.get("HOME")
    return os.path.join(home if home else ".", ".clp.rc")


def parse_config_file(path: str) -> list[tuple[str, str]]:
    """Read a boost::program_options config file: ``key = value`` lines,
    ``#`` comments, ``[section]`` headers prefixing later keys as
    ``section.key``. A file that can't be opened yields no options — the
    reference opens the stream and silently skips when it isn't there,
    even for an explicit --config-file path
    (clg/CommandLineArguments.cpp:157-165)."""
    pairs: list[tuple[str, str]] = []
    try:
        f = open(path)
    except OSError:
        return pairs
    with f:
        section = ""
        for raw in f:
            line = raw.split("#", 1)[0].strip()
            if not line:
                continue
            if line.startswith("[") and line.endswith("]"):
                section = line[1:-1].strip()
                continue
            if "=" not in line:
                continue
            key, val = line.split("=", 1)
            key = key.strip()
            if section:
                key = f"{section}.{key}"
            pairs.append((key, val.strip()))
    return pairs


_CONFIG_TRUE = {"true", "1", "yes", "on"}


def _config_tokens(parser: argparse.ArgumentParser,
                   pairs: list[tuple[str, str]]) -> list[str]:
    """Convert config-file (key, value) pairs into argv tokens for one
    subcommand's parser. Keys the parser doesn't know are skipped — the
    reference parses its config files with allow_unregistered=true since
    one ~/.clp.rc serves every binary (clg/CommandLineArguments.cpp:160-162)."""
    by_name: dict[str, argparse.Action] = {}
    for act in parser._actions:
        for opt in act.option_strings:
            if opt.startswith("--"):
                by_name[opt[2:]] = act
    toks: list[str] = []
    for key, val in pairs:
        act = by_name.get(key)
        if act is None or key == "config-file":
            continue
        if act.nargs == 0:
            if val.lower() in _CONFIG_TRUE:
                toks.append("--" + key)
        else:
            toks.extend(["--" + key, val])
    return toks


def _inject_config_options(argv: list[str],
                           choices: dict[str, argparse.ArgumentParser]
                           ) -> list[str]:
    """Splice config-file options into argv right after the subcommand, so
    tokens typed on the command line (parsed later, for store actions)
    take priority — the reference's "command line arguments will take
    priority over config file" rule (clg/CommandLineArguments.cpp:154-156)."""
    ci = None
    i = 0
    while i < len(argv):
        tok = argv[i]
        if tok == "--master":
            i += 2
            continue
        if tok.startswith("-"):
            i += 1
            continue
        if tok in choices:
            ci = i
        break
    if ci is None:
        return argv
    tail = argv[ci + 1:]
    path = None
    for j, tok in enumerate(tail):
        if tok == "--config-file" and j + 1 < len(tail):
            path = tail[j + 1]
        elif tok.startswith("--config-file="):
            path = tok.split("=", 1)[1]
    pairs = parse_config_file(path if path is not None
                              else default_config_file_path())
    if not pairs:
        return argv
    return argv[:ci + 1] + _config_tokens(choices[argv[ci]], pairs) + tail


def _add_metadata_db_opts(p: argparse.ArgumentParser) -> None:
    """GlobalMetadataDBConfig option group (clp/GlobalMetadataDBConfig.cpp):
    --db-type {sqlite,mysql} plus the mysql-only connection knobs. The
    sqlite flavor (the default, and the one this repo implements) ignores
    host/port/name/table-prefix exactly like the reference."""
    p.add_argument("--db-type", choices=["sqlite", "mysql"], default="sqlite",
                   help="Database type [sqlite | mysql]")
    p.add_argument("--db-host", default="127.0.0.1",
                   help="(--db-type=mysql only) Database host")
    p.add_argument("--db-port", type=int, default=3306,
                   help="(--db-type=mysql only) Database port")
    p.add_argument("--db-name", default="clp-db",
                   help="(--db-type=mysql only) Database name")
    p.add_argument("--db-table-prefix", default="clp_",
                   help="(--db-type=mysql only) Database table prefix")
    p.add_argument("--db-config-file", default=None, metavar="FILE",
                   help="Global metadata DB YAML config (glt "
                        "--db-config-file; keys: type, and for mysql "
                        "host/port/name/username/password/table_prefix)")


def _apply_db_config_file(args) -> None:
    """glt `--db-config-file` (glt/GlobalMetadataDBConfig.cpp:22-108):
    a YAML map with `type: sqlite|mysql`; the mysql flavor requires
    host/port/name/username/password/table_prefix, each validated with
    the reference's missing-key / empty-value / negative-port errors.
    Explicit --db-* command-line options were already parsed, so the
    file fills the same fields the reference's config object carries."""
    path = getattr(args, "db_config_file", None)
    if not path:
        return
    import yaml

    try:
        with open(path) as f:
            config = yaml.safe_load(f) or {}
    except OSError as exc:
        sys.exit(f"error: cannot read --db-config-file: {exc}")
    except yaml.YAMLError as exc:
        sys.exit(f"error: invalid YAML in --db-config-file: {exc}")
    if not isinstance(config, dict) or "type" not in config:
        sys.exit("error: Missing key 'type' in DB config file")
    db_type = str(config["type"])
    if db_type == "sqlite":
        args.db_type = "sqlite"
        return
    if db_type != "mysql":
        sys.exit("error: Unknown type")
    args.db_type = "mysql"
    required = ("host", "port", "name", "username", "password",
                "table_prefix")
    for key in required:
        if key not in config:
            sys.exit(f"error: Missing key '{key}' in DB config file")
    if not isinstance(config["port"], int):
        sys.exit("error: Value for key 'port' could not be converted "
                 "to type int")
    if config["port"] < 0:
        sys.exit("error: Database 'port' cannot be negative.")
    for key in ("host", "name", "username", "password", "table_prefix"):
        if not str(config[key] or ""):
            sys.exit(f"error: Database '{key}' not specified or empty.")
    args.db_host = str(config["host"])
    args.db_port = config["port"]
    args.db_name = str(config["name"])
    args.db_table_prefix = str(config["table_prefix"])
    # the YAML supplies credentials directly (unlike the env-variable
    # flow of --db-type) — carried on args, never written into the
    # process environment
    args._db_user = str(config["username"])
    args._db_pass = str(config["password"])


def _validate_metadata_db_config(args) -> None:
    """read_credentials_from_env_if_needed + validate parity
    (GlobalMetadataDBConfig.cpp:114-160): sqlite needs nothing; mysql
    requires a sane port and CLP_DB_USER/CLP_DB_PASS in the environment,
    then is refused honestly — no MySQL server or client driver exists in
    this environment (declared waiver, STATUS.md)."""
    if getattr(args, "db_type", "sqlite") == "sqlite":
        return
    if not (1 <= args.db_port <= 65535):
        sys.exit("error: Database port must be in the range [1, 65535]")
    if not (getattr(args, "_db_user", None) or os.environ.get("CLP_DB_USER")):
        sys.exit("error: Database username not specified (set CLP_DB_USER)")
    if not (getattr(args, "_db_pass", None) or os.environ.get("CLP_DB_PASS")):
        sys.exit("error: Database password not specified (set CLP_DB_PASS)")
    sys.exit("error: --db-type=mysql: no MySQL server or driver is "
             "available in this environment (waiver: STATUS.md); the "
             "global metadata catalog here is the sqlite flavor")


def cmd_reducer_server(args) -> None:
    """`reducer-server`: merge partial aggregates from search workers
    (reference reducer_server.cpp main loop — register with the scheduler,
    serve one job to completion, reset, repeat). Results land in a sqlite
    results cache (documented stand-in for the reference's MongoDB)."""
    from clp_spark.streaming.reducer import ReducerServer, ResultsCache

    cache = ResultsCache(args.results_db)
    while True:
        server = ReducerServer(
            cache,
            reducer_host=args.reducer_host,
            reducer_port=args.reducer_port,
            upsert_interval_ms=args.upsert_interval,
        )
        try:
            ok = server.serve_one_job(args.scheduler_host,
                                      args.scheduler_port)
        finally:
            server.close()
        if args.one_job:
            sys.exit(0 if ok else 1)
        if not ok:
            sys.exit(1)


def main(argv: list[str] | None = None) -> None:
    argv = list(sys.argv[1:] if argv is None else argv)
    ap = argparse.ArgumentParser(prog="clp_spark", description=__doc__)
    ap.add_argument("--master", default="local[*]")
    ap.add_argument("-V", "--version", action=_VersionAction, nargs=0,
                    help="Print version")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("c", help="compress text logs into an archive")
    c.add_argument("archive")
    c.add_argument("inputs", nargs="*")
    c.add_argument(
        "-f", "--files-from", default=None, metavar="FILE",
        help="compress files listed one per line in FILE (clp/clp-s "
             "--files-from; appended to positional inputs)",
    )
    c.add_argument("--no-pattern-lock", action="store_true")
    c.add_argument(
        "--compression", choices=["zstd", "passthrough", "lzma"],
        default="zstd",
        help="storage codec (reference streaming_compression codecs): zstd "
             "(default) or passthrough (= uncompressed); lzma exists in the "
             "reference but has no parquet codec and errors here",
    )
    c.add_argument(
        "--target-segment-size", type=int, default=None, metavar="BYTES",
        help="text mode: target uncompressed size of a segment (one sink "
             "parquet file) before a new one starts (clp c "
             "--target-segment-size, Archive.cpp:581)",
    )
    c.add_argument(
        "--target-dictionaries-size", type=int, default=None, metavar="BYTES",
        help="text mode: start a NEW archive when the current archive's "
             "dictionary data reaches this size (clp c "
             "--target-dictionaries-size, compression.cpp:128); <archive> "
             "becomes a directory of archives",
    )
    c.add_argument(
        "--normalize-paths", action="store_true",
        help="JSON mode: canonicalize (realpath) ingested file paths before "
             "storing them in the range index (clp-s --normalize-paths)",
    )
    c.add_argument(
        "--remove-leading-slash", action="store_true",
        help="JSON mode: strip the leading '/' from each stored file path "
             "(clp-s --remove-leading-slash)",
    )
    c.add_argument(
        "--target-archive-size", type=int, default=None, metavar="BYTES",
        help="split the input into archives of ~this raw size; <archive> "
        "becomes a directory of archives",
    )
    c.add_argument(
        "--target-encoded-file-size", dest="target_encoded_file_size_text",
        type=int, default=None, metavar="BYTES",
        help="text mode: split big files into splits of ~this many encoded "
             "bytes (clp c --target-encoded-file-size); splits address "
             "individually via `i --msg-ix`",
    )
    c.add_argument(
        "--remove-path-prefix", default=None, metavar="DIR",
        help="remove the given path prefix from each compressed file's "
             "stored path (clp c --remove-path-prefix)",
    )
    c.add_argument(
        "--sort-input-files", choices=["true", "false"], default="true",
        metavar="BOOL",
        help="whether to compress input files in descending order of their "
             "last modified time (clp c --sort-input-files, default true; "
             "orders archive assignment with --target-archive-size)",
    )
    c.add_argument(
        "--json", action="store_true",
        help="clp-s mode: inputs are JSONL; build per-schema typed tables "
        "with ordered reconstruction (x) support",
    )
    c.add_argument("--structurize-arrays", action="store_true")
    c.add_argument(
        "--progress", action="store_true",
        help="show progress during compression (clp c --progress; the "
             "distributed analog is the live stage progress bar plus the "
             "final per-file count line)",
    )
    c.add_argument(
        "--print-archive-stats-progress", action="store_true",
        help="print stats (ndjson) about each archive as it's compressed "
             "(clp c; one {id, uncompressed_size, size} line per archive "
             "at close)",
    )
    c.add_argument(
        "--schema-path", default=None, metavar="FILE",
        help="text mode: tokenize variables with this log-surgeon schema "
             "file instead of the built-in heuristics (clp c "
             "--schema-path); search on the archive compiles schema-aware",
    )
    c.add_argument(
        "--no-retain-float-format", action="store_true",
        help="JSON mode: don't store float format descriptors (floats "
        "reconstruct in canonical form instead of their original lexeme)",
    )
    c.add_argument(
        "--disable-log-order", action="store_true",
        help="JSON mode: don't record ingestion order (smaller archives; "
        "x reconstructs out of order into one 'original' file, clp-s "
        "--disable-log-order)",
    )
    c.add_argument(
        "--single-file-archive", action="store_true",
        help="JSON mode: pack each archive into ONE file (clp-s "
        "--single-file-archive; x/s-kql read packed archives directly)",
    )
    c.add_argument(
        "--timestamp-key", default=None, metavar="KEY",
        help="JSON mode: record the timestamp column in the archive "
             "(clp-s c --timestamp-key); search defaults to it",
    )
    c.add_argument(
        "--glt", action="store_true",
        help="GLT layout: partition sinks by per-logtype table so searches "
        "prune to matching logtype tables (glt c analog)",
    )
    c.add_argument(
        "--combine-threshold", "--table-combine-threshold",
        type=float, default=0.1, metavar="PCT",
        help="GLT: logtypes above this %% of rows get their own table "
        "(glt c --table-combine-threshold, default 0.1)",
    )
    c.add_argument(
        "--metadata-db", default=None, metavar="SQLITE_PATH",
        help="also register archives + per-file rows in a "
             "GlobalSQLiteMetadataDB-compatible catalog",
    )
    c.add_argument(
        "--target-encoded-size", type=int, default=None, metavar="BYTES",
        help="JSON mode: split input into multiple archives of ~BYTES raw "
             "input each (clp-s --target-encoded-size analog)",
    )
    c.add_argument(
        "--compression-level", type=int, default=None, metavar="LEVEL",
        help="zstd level for archive tables (clp/clp-s --compression-level; "
        "reference default 3; omitted = Spark session default codec)",
    )
    c.add_argument(
        "--max-document-size", type=int, default=512 * 1024 * 1024,
        metavar="BYTES",
        help="JSON mode: a record over this size fails compression "
        "(clp-s --max-document-size, default 512 MiB)",
    )
    c.add_argument(
        "--min-table-size", type=int, default=0, metavar="BYTES",
        help="JSON mode: schema tables smaller than this pack into one "
        "combined store (clp-s --min-table-size; reference default 1 MiB "
        "— here 0 = off, since parquet directories carry far less "
        "per-table overhead than the reference's per-table streams)",
    )
    c.add_argument(
        "--print-archive-stats", action="store_true",
        help="JSON mode: print one stats JSON line per archive "
        "(clp-s --print-archive-stats)",
    )
    c.set_defaults(fn=cmd_compress)

    x = sub.add_parser("x", help="decompress an archive back to messages")
    x.add_argument("archive")
    x.add_argument(
        "paths", nargs="*",
        help="original file paths to extract (clp x's trailing "
             "positionals); empty = every file",
    )
    x.add_argument("--file", default=None)
    x.add_argument(
        "--archive-id", default=None, metavar="ID",
        help="Limit decompression to the archive with the given ID in a "
             "subdirectory of archive-path (clp-s x --archive-id)",
    )
    x.add_argument("-o", "--output", default=None)
    x.add_argument(
        "--ordered", action="store_true",
        help="JSON archives: reconstruct in log order as "
             "{archive_id}_{first}_{last+1}.jsonl files (clp-s --ordered); "
             "without it everything appends out of order to one 'original' "
             "file — no global sort, the clp-s default",
    )
    x.add_argument(
        "--target-ordered-chunk-size", type=int, default=0, metavar="BYTES",
        help="JSON archives: split the ordered reconstruction into "
             "~BYTES-sized {archive_id}_{first}_{last+1}.jsonl chunk files "
             "(0 = one file, clp-s default; requires --ordered)",
    )
    x.add_argument(
        "--print-ordered-chunk-stats", action="store_true",
        help="print one {\"path\": ...} JSON line per finalized ordered "
             "chunk (clp-s --print-ordered-chunk-stats; requires --ordered)",
    )
    x.set_defaults(fn=cmd_extract)

    s = sub.add_parser(
        "s", help="wildcard search over an archive (or a directory of archives)"
    )
    s.add_argument("archive")
    s.add_argument("query", nargs="?", default=None)
    s.add_argument(
        "-f", "--file", dest="queries_from", default=None, metavar="FILE",
        help="Obtain wildcard strings from FILE, one per line (clg -f); "
             "a message matching any of them is emitted once",
    )
    s.add_argument("--ignore-case", action="store_true")
    s.add_argument(
        "--output-method", choices=["s", "b"], default="s",
        help="output method: s - stdout text, b - stdout binary framing "
             "(clg --output-method, <u64 path-len><path><i64 ts-ms>"
             "<u64 logtype-id><u64 msg-len><msg> per result)",
    )
    s.add_argument(
        "--output-handler", choices=["stdout", "network", "reducer"],
        default="stdout",
        help="where matched messages go (clo output-handler): stdout; "
             "network — one msgpack tuple (ts_ms, message, path, file-id, "
             "event-ix) per result to --host/--port; reducer — stream "
             "per-partition partial --count/--count-by-time aggregates to "
             "a reducer server at --host/--port under --job-id",
    )
    s.add_argument("--host", default=None,
                   help="network/reducer output handler destination host")
    s.add_argument("--port", type=int, default=None,
                   help="network/reducer output handler destination port")
    s.add_argument(
        "--job-id", type=int, default=None, metavar="ID",
        help="job ID for the requested aggregation operation "
             "(reducer output handler)",
    )
    s.add_argument(
        "--regex", action="store_true",
        help="treat QUERY as a regex; translate to a CLP wildcard query "
             "(clp regex_utils parity) so it rides the dictionary-first path",
    )
    s.add_argument("--count", action="store_true")
    s.add_argument("--count-by-time", type=int, default=None, metavar="BUCKET_MS")
    s.add_argument("--limit", type=int, default=None)
    s.add_argument(
        "-m", "--max-num-results", type=int, default=None, metavar="NUM",
        help="keep only the NUM results with the largest timestamps "
             "(clo -m latest-N heap)",
    )
    s.add_argument(
        "--tge", type=int, default=None, metavar="EPOCH_MS",
        help="only messages with ts >= this (archives-dir mode prunes whole archives)",
    )
    s.add_argument("--tle", type=int, default=None, metavar="EPOCH_MS")
    s.add_argument(
        "--tgt", type=int, default=None, metavar="EPOCH_MS",
        help="only messages with timestamp > this (strict --tge)",
    )
    s.add_argument(
        "--tlt", type=int, default=None, metavar="EPOCH_MS",
        help="only messages with timestamp < this (strict --tle)",
    )
    s.add_argument(
        "--teq", type=int, default=None, metavar="EPOCH_MS",
        help="only messages with exactly this timestamp",
    )
    s.add_argument(
        "--file-path", default=None, metavar="PATH",
        help="only search messages from the original file at PATH",
    )
    s.set_defaults(fn=cmd_search)

    sk = sub.add_parser(
        "s-kql", help="KQL search over JSONL input or a compressed JSON archive"
    )
    sk.add_argument("input")
    sk.add_argument("query")
    sk.add_argument(
        "--output-handler", choices=["stdout", "file", "network", "reducer"],
        default="stdout",
        help="where results go (clp-s s output-handler): stdout prints "
             "records; file/network emit one msgpack tuple (ts, message, "
             "path-placeholder, archive-id, event-ix) per result; reducer "
             "streams per-partition partial --count/--count-by-time "
             "aggregates to a reducer server at --host/--port",
    )
    sk.add_argument("--path", default=None,
                    help="file output handler destination path")
    sk.add_argument("--host", default=None,
                    help="network/reducer output handler destination host")
    sk.add_argument("--port", type=int, default=None,
                    help="network/reducer output handler destination port")
    sk.add_argument(
        "--job-id", type=int, default=None, metavar="ID",
        help="job ID for the requested aggregation operation "
             "(reducer output handler)",
    )
    sk.add_argument("--ignore-case", action="store_true")
    sk.add_argument(
        "--enable-telemetry", action="store_true",
        help="publish one search-telemetry span per archive search to "
             "the OTLP endpoint in CLP_TELEMETRY_ENDPOINT (clp-s "
             "--enable-telemetry; OTEL_EXPORTER_OTLP_* variables take "
             "precedence)",
    )
    sk.add_argument("--structurize-arrays", action="store_true")
    sk.add_argument("--count", action="store_true")
    sk.add_argument(
        "--count-by-time", type=int, default=None, metavar="BUCKET_MS",
        help="count matches per time bucket (needs --timestamp-key)",
    )
    sk.add_argument("--min", default=None, metavar="FIELD")
    sk.add_argument("--max", default=None, metavar="FIELD")
    sk.add_argument("--unique", default=None, metavar="FIELD")
    sk.add_argument("--limit", type=int, default=None)
    sk.add_argument(
        "--projection", nargs="+", default=None, metavar="COLUMN",
        help="project only the given leaf columns in matching results "
             "(dotted paths; no wildcards)",
    )
    sk.add_argument("--timestamp-key", default=None)
    sk.add_argument(
        "--archive-id", default=None, metavar="ID",
        help="limit search to the archive in the given subdirectory of an "
             "archives directory",
    )
    sk.add_argument(
        "--tge", type=int, default=None, metavar="EPOCH_MS",
        help="only records whose authoritative timestamp is >= this "
             "(clp-s --tge; needs a timestamp key, from --timestamp-key or "
             "the archive)",
    )
    sk.add_argument(
        "--tle", type=int, default=None, metavar="EPOCH_MS",
        help="only records whose authoritative timestamp is <= this "
             "(clp-s --tle)",
    )
    sk.add_argument(
        "--max-num-results", type=int, default=None, metavar="MAX",
        help="keep only the MAX results with the LATEST authoritative "
             "timestamps (clp-s --max-num-results, "
             "ResultsCacheOutputHandler's min-heap); without a timestamp "
             "key this degrades to an arbitrary MAX results",
    )
    sk.set_defaults(fn=cmd_search_kql)

    cv = sub.add_parser(
        "convert", help="convert text logs to kv-IR chunk rows (log converter)"
    )
    cv.add_argument("output")
    cv.add_argument("inputs", nargs="+")
    cv.add_argument("--events-per-chunk", type=int, default=1024)
    cv.add_argument("--no-pattern-lock", action="store_true")
    cv.add_argument(
        "--four-byte", action="store_true",
        help="emit the compact four-byte IR encoding (delta timestamps, "
        "int32 vars; oversize values demote to dictionary vars)",
    )
    cv.set_defaults(fn=cmd_convert)

    ki = sub.add_parser(
        "kv-import", help="JSON-lines logs -> structured kv-IR chunk rows"
    )
    ki.add_argument("output")
    ki.add_argument("inputs", nargs="+")
    ki.add_argument("--events-per-chunk", type=int, default=1024)
    ki.add_argument(
        "--four-byte", action="store_true",
        help="emit the four-byte-encoding kv-IR stream (compact clp-string "
        "variable packing)",
    )
    ki.add_argument(
        "--timestamp-key", default=None, metavar="KEY:CATPATTERN",
        help="parse KEY with a clp-s CAT timestamp pattern and attach the "
        "epoch-ms value as an extra _ts_ms key (timestamp-dictionary analog)",
    )
    ki.set_defaults(fn=cmd_kv_import)

    ke = sub.add_parser(
        "kv-export", help="structured kv-IR chunk rows -> typed leaf rows"
    )
    ke.add_argument("chunks")
    ke.add_argument("--count", action="store_true")
    ke.add_argument("--limit", type=int, default=10_000)
    ke.set_defaults(fn=cmd_kv_export)

    si = sub.add_parser(
        "s-ir", help="direct KQL search over kv-IR chunks (no archive)"
    )
    si.add_argument("chunks")
    si.add_argument("query")
    si.add_argument("-i", "--ignore-case", action="store_true")
    si.add_argument("--count", action="store_true")
    si.set_defaults(fn=cmd_kv_search)

    ei = sub.add_parser(
        "i", help="extract IR chunks for a file split from an archive (clo i)"
    )
    ei.add_argument("archive")
    ei.add_argument("output")
    ei.add_argument(
        "--file-id", "--orig-file-id", default=None,
        help="original file URI or unambiguous path suffix (the file split "
        "to extract; clp i --orig-file-id); omit to extract every file in "
        "the archive",
    )
    ei.add_argument(
        "--file-split-id", default=None, metavar="ID",
        help="extract the file split with this files-table id directly "
             "(clo i's file-split-id positional; split ids end in #s<ix>, "
             "a plain id names an unsplit file) — replaces "
             "--file-id/--msg-ix",
    )
    ei.add_argument(
        "--print-ir-stats", action="store_true",
        help="print statistics (ndjson) about each IR file after it's "
             "extracted (clo i --print-ir-stats)",
    )
    ei.add_argument("--events-per-chunk", type=int, default=1024)
    ei.add_argument(
        "--target-size", type=int, default=None, metavar="BYTES",
        help="target size (B) for each IR chunk before a new chunk is "
             "created (clo i --target-size; uncompressed serialized bytes "
             "— replaces the --events-per-chunk criterion)",
    )
    ei.add_argument(
        "--chunk-compression", choices=["none", "zstd"], default="none",
        help="chunk container: zstd writes the reference's .clp.zst "
             "framing (clo.cpp:186-189); none writes raw .clp — every "
             "reader here sniffs the magic, so both round-trip",
    )
    ei.add_argument("--four-byte", action="store_true")
    ei.add_argument(
        "--msg-ix", type=int, default=None, metavar="N",
        help="extract the file split containing message N of --file-id's "
             "original file; <archive> is then an archives DIRECTORY and "
             "the global metadata db resolves the split (clp i --msg-ix)",
    )
    ei.add_argument(
        "--metadata-db", default=None, metavar="SQLITE_PATH",
        help="metadata db for --msg-ix resolution (default "
             "<archive>/metadata.db)",
    )
    ei.set_defaults(fn=cmd_extract_ir)

    hr = sub.add_parser(
        "make-dictionaries-readable",
        help="dump an archive's dictionaries as human-readable .hr files "
             "(placeholders render as \\i/\\f/\\d; reference "
             "make-dictionaries-readable)",
    )
    hr.add_argument("archive")
    hr.add_argument("output")
    hr.set_defaults(fn=cmd_readable_dicts)

    rs = sub.add_parser(
        "reducer-server",
        help="run a reducer that merges partial count/count-by-time "
             "aggregates streamed by search workers (reference "
             "reducer_server; results land in a sqlite results cache "
             "instead of MongoDB)",
    )
    rs.add_argument("--reducer-host", default="127.0.0.1",
                    help="host this reducer advertises to the scheduler")
    rs.add_argument("--reducer-port", type=int, default=14009,
                    help="port to listen on for worker connections")
    rs.add_argument("--scheduler-host", default="127.0.0.1",
                    help="host the query scheduler is running on")
    rs.add_argument("--scheduler-port", type=int, default=7000,
                    help="port the query scheduler is listening on")
    rs.add_argument(
        "--upsert-interval", type=int, default=100, metavar="MS",
        help="interval for upserting timeline aggregation results (ms)",
    )
    rs.add_argument(
        "--results-db", required=True, metavar="SQLITE_PATH",
        help="sqlite results cache (stands in for the reference's "
             "MongoDB results-cache URI)",
    )
    rs.add_argument(
        "--one-job", action="store_true",
        help="serve a single job and exit (the reference loops forever)",
    )
    rs.set_defaults(fn=cmd_reducer_server)

    # Every binary in the reference accepts --config-file (options_general
    # is per-binary); the metadata-db group rides on the binaries that
    # touch the global catalog (clp c, clg s, clo i).
    for p in sub.choices.values():
        p.add_argument(
            "--auth", choices=["none", "s3", "auto"], default="none",
            help="authentication for network inputs (clp-s --auth): s3 "
                 "requires AWS_ACCESS_KEY_ID/AWS_SECRET_ACCESS_KEY "
                 "(optionally AWS_SESSION_TOKEN) and SigV4-presigns S3 "
                 "URLs; none sends requests unsigned",
        )
        p.add_argument(
            "--config-file", default=None, metavar="FILE",
            help="Use configuration options from FILE (default ~/.clp.rc; "
                 "command-line arguments take priority)",
        )
    for name in ("c", "s", "i"):
        _add_metadata_db_opts(sub.choices[name])

    args = ap.parse_args(_inject_config_options(argv, sub.choices))
    _apply_db_config_file(args)
    _validate_metadata_db_config(args)
    args.fn(args)


if __name__ == "__main__":
    main()
