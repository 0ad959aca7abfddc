"""Raw log-file ingestion — the `clp c <input-dir>` analog.

Reference lifecycle (components/core/src/clp/clp/compression.cpp +
FileCompressor.cpp:118): enumerate files → read lines → timestamp-anchored
message assembly → encode → archive. Spark shape:

1. `read_log_lines`: spark.read.text over a path/glob (any Hadoop FS —
   file://, hdfs://, s3a://) + input_file_name(); per-file line numbers are
   reconstructed from monotonically_increasing_id — within one text file,
   splits are ordered by byte offset and partition ids rise with offset, so
   (mono id) sorts lines in file order. One window per file, distributed
   across files (a single pathological multi-GB file is the reference's
   limit too — it splits files, FileCompressor.cpp:275-293).
2. `compress_text_logs`: lines → assemble_multiline (per-file pattern lock)
   → CLP-encode each message (mapInArrow kernel) → logtype/var dictionaries
   → per-file-partitioned sink — a complete text→archive pipeline whose
   round-trip is byte-exact (tests/test_logfiles.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clp_spark.functions.arrow_kernel import encode_df
from clp_spark.operators.dictionary import assign_sorted_ids
from clp_spark.operators.messages import assemble_multiline


# The local `file:` scheme or any `<scheme>://` URI (hdfs://, s3a://, ...)
# — scheme presence separates input_file_name() URIs (encoded) from
# binaryFile-derived paths (raw, scheme-stripped at the readers). A bare
# colon is not enough: `data:1.log` and `C:/logs/a.log` are raw paths.
_URI_SCHEME_RE = "^(file:|[A-Za-z][A-Za-z0-9+.-]*://)"


def decode_file_uri_expr(col):
    """Source-path column → decoded path, provenance-aware.

    `input_file_name()` returns a percent-encoded URI (space → %20,
    % → %25) but leaves '+' LITERAL — java-style url_decode would turn
    that '+' into a space and silently corrupt the path, so '+' is
    escaped before decoding. The local `file:` scheme strips off; remote
    schemes (hdfs://, s3a://) keep their scheme but still decode.
    Values without any scheme are already raw paths (the binaryFile
    readers emit scheme-stripped, UNencoded paths — url_decode on those
    would crash on a literal '%' in a file name) and pass through
    unchanged.
    """
    c = F.col(col) if isinstance(col, str) else col
    decoded = F.url_decode(
        F.regexp_replace(
            F.regexp_replace(c, "^file:(//)?", ""), r"\+", "%2B"
        )
    )
    return F.when(c.rlike(_URI_SCHEME_RE), decoded).otherwise(c)


def decode_file_uri(s: str) -> str:
    """Driver-side twin of ``decode_file_uri_expr`` for stored file ids:
    URIs percent-decode (python's unquote already leaves '+' literal,
    matching the URI form) with the local `file:` scheme stripped; raw
    paths pass through."""
    import re
    from urllib.parse import unquote

    if not re.match(_URI_SCHEME_RE, s):
        return s
    return unquote(re.sub("^file:(//)?", "", s))


def strip_file_scheme(s: str) -> str:
    """One spelling for removing the LOCAL `file:` scheme from a
    binaryFile / Hadoop path (handles both the `file:/x` and
    `file:///x` forms); remote schemes pass through untouched."""
    import re

    return re.sub("^file:(//)?", "", s)


def read_log_lines(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """(file_id, line_no, line) over text files; line_no is 0-based per file."""
    raw = spark.read.text(paths).select(
        F.input_file_name().alias("file_id"),
        F.monotonically_increasing_id().alias("_mono"),
        F.col("value").alias("line"),
    )
    w = Window.partitionBy("file_id").orderBy("_mono")
    return raw.select(
        "file_id",
        (F.row_number().over(w) - 1).cast("long").alias("line_no"),
        "line",
    )


def classify_log_input(path: str) -> str:
    """Content-sniff one LOCAL input file → 'text' | 'gz' | 'tar' | 'ir' |
    'kvir' | 'zst' | 'xz' | 'bz2'.

    Reference parity: the reference decides by CONTENT, not extension —
    FileCompressor.cpp:158-170 tries UTF-8 first, then hands non-UTF-8
    inputs to libarchive (FileCompressor.hpp:11-12 LibarchiveReader, whose
    filter auto-detection covers gzip/bzip2/xz/zstd) or, on the IR magic,
    to the IR-stream deserializer (FileCompressor.cpp:406-430
    compress_ir_stream); clp-s additionally peeks the zstd magic, nests a
    streaming decompressor, and re-deduces the INNER type
    (clp_s/InputConfig.cpp:163-279,540-575), so a compression container is
    a transparent wrapper around any other kind.
    Here: gzip magic (1f 8b) → peek the decompressed head for the tar
    magic ('ustar' at offset 257) to split single-member .gz from .tar.gz;
    raw tar magic → tar; IR stream magic (either width) → 'kvir' when the
    preamble VERSION is the structured kv protocol's (a clp-s `c --json`
    input), else 'ir'; zstd/xz/bz2 magic → re-deduce on the decompressed
    head (IR/kv-IR and tar.{zst,xz,bz2} keep their inner kind — the blob
    readers unwrap transparently; other payloads classify by container
    kind, container-wrapped text); anything else → text. (gz-wrapped IR
    is not sniffed — gunzip it first.)"""
    import gzip

    from clp_spark.sources.ir_four import MAGIC_4BYTE
    from clp_spark.sources.ir_stream import MAGIC_8BYTE
    from clp_spark.sources.zstd_io import container_kind, container_peek

    try:
        with open(path, "rb") as f:
            head = f.read(512)
    except OSError:
        return "text"
    ckind = container_kind(head[:6])
    if ckind is not None:
        try:
            inner = container_peek(path, ckind, 65544)
        except (OSError, ValueError, EOFError):
            return ckind
        if inner[:4] in (MAGIC_8BYTE, MAGIC_4BYTE):
            from clp_spark.sources.kv_ir import is_kv_ir_bytes

            return "kvir" if is_kv_ir_bytes(inner) else "ir"
        if inner[257:262] == b"ustar":
            return "tar"
        return ckind
    if head[:4] in (MAGIC_8BYTE, MAGIC_4BYTE):
        from clp_spark.sources.kv_ir import is_kv_ir_file

        return "kvir" if is_kv_ir_file(path) else "ir"
    if head[:2] == b"\x1f\x8b":
        try:
            with gzip.open(path, "rb") as gz:
                inner = gz.read(512)
        except OSError:
            return "gz"
        return "tar" if inner[257:262] == b"ustar" else "gz"
    if head[257:262] == b"ustar":
        return "tar"
    return "text"


def _tar_member_lines(tar_uri: str, blob: bytes):
    """Iterate (member_file_id, line_no, line) over every regular UTF-8
    member of one tar blob. Member path parity with the reference:
    parent_dir_of_tar / member_path (FileCompressor.cpp:392-394
    `parent_boost_path / file_path`). Line-split semantics mirror Hadoop's
    LineRecordReader (LF, CR, or CRLF terminate; a trailing terminator
    emits no empty final line) so tar ingestion is byte-identical to
    plain-text ingestion of the unpacked members."""
    import io
    import posixpath
    import re
    import tarfile

    from clp_spark.sources.zstd_io import maybe_decompress

    splitter = re.compile(rb"\r\n|\r|\n")
    parent = tar_uri.rsplit("/", 1)[0]
    # tar.{zst,xz,bz2}: unwrap the container first (the reference reads
    # these via libarchive's filter auto-detection; tarfile handles only
    # gz natively here)
    blob = maybe_decompress(blob)
    with tarfile.open(fileobj=io.BytesIO(blob), mode="r:*") as tf:
        for member in tf:
            if not member.isreg():
                continue
            fobj = tf.extractfile(member)
            if fobj is None:
                continue
            data = fobj.read()
            try:
                # reference skips non-UTF-8 members (FileCompressor.cpp:
                # 388-391 is_utf8_encoded gate before parse_and_encode)
                text = data.decode("utf-8")
            except UnicodeDecodeError:
                continue
            name = posixpath.normpath(member.name).lstrip("/")
            parts = splitter.split(text.encode("utf-8"))
            if parts and parts[-1] == b"":
                parts.pop()
            fid = f"{parent}/{name}"
            for i, ln in enumerate(parts):
                yield fid, i, ln.decode("utf-8")


def read_tar_log_lines(spark: SparkSession, tar_paths: list[str]) -> DataFrame:
    """(file_id, container, line_no, line) over tar / tar.gz archives.

    Spark shape: binaryFile scan (one task per tar — the same sequential
    unit as the reference's streaming libarchive read; parallelism comes
    from the NUMBER of tars, exactly as the reference scheduler assigns one
    task per input archive) → mapInPandas unpacks members and emits lines.
    `container` carries the tar's own URI so task planners that cut
    archives by input file (compress_text_logs_multi) can route all of a
    tar's members to the tar's assigned archive."""
    import pandas as pd

    blobs = (
        spark.read.format("binaryFile")
        .load(tar_paths)
        .select("path", "content")
    )

    def expand(batches):
        for pdf in batches:
            for uri, blob in zip(pdf["path"], pdf["content"]):
                # binaryFile paths are unencoded — strip the scheme here so
                # downstream path joins never need (crash-prone) url_decode
                path = strip_file_scheme(uri)
                rows = list(_tar_member_lines(path, bytes(blob)))
                if rows:
                    out = pd.DataFrame(
                        rows, columns=["file_id", "line_no", "line"]
                    )
                    out.insert(1, "container", path)
                    yield out

    return blobs.mapInPandas(
        expand,
        "file_id string, container string, line_no long, line string",
    )


def read_container_log_lines(
    spark: SparkSession, zst_paths: list[str]
) -> DataFrame:
    """(file_id, container, line_no, line) over compression-container-
    wrapped TEXT files — the clp-s LogText-inside-Zstd input kind
    (InputConfig.cpp:540-575 nests a zstd decompressor and hands the
    inner stream to the log-text handler), extended to the xz/bz2
    containers the unstructured clp's libarchive input path auto-detects.

    Spark shape: binaryFile scan (one task per container file — the same
    sequential unit as the reference's one streaming decompressor per
    input; parallelism comes from the NUMBER of files) → mapInPandas
    decompresses (magic-dispatched per blob) and line-splits. Line-split
    semantics mirror Hadoop's LineRecordReader (LF, CR, or CRLF
    terminate; a trailing terminator emits no empty final line) so
    container ingestion is byte-identical to plain-text ingestion of the
    decompressed file. file_id drops the final extension, the same stem
    rule as .gz inputs (FileCompressor.cpp:313-319: syslog.zst → syslog)."""
    import re

    import pandas as pd

    splitter = re.compile(rb"\r\n|\r|\n")

    blobs = (
        spark.read.format("binaryFile")
        .load(zst_paths)
        .select("path", "content")
    )

    def expand(batches):
        from clp_spark.sources.zstd_io import maybe_decompress

        for pdf in batches:
            for uri, blob in zip(pdf["path"], pdf["content"]):
                # binaryFile paths are unencoded — strip the scheme here so
                # downstream path joins never need (crash-prone) url_decode
                path = strip_file_scheme(uri)
                data = maybe_decompress(bytes(blob))
                parts = splitter.split(data)
                if parts and parts[-1] == b"":
                    parts.pop()
                stem = re.sub(r"\.[^./]+$", "", path)
                yield pd.DataFrame({
                    "file_id": stem,
                    "container": path,
                    "line_no": range(len(parts)),
                    "line": [p.decode("utf-8", "replace") for p in parts],
                })

    return blobs.mapInPandas(
        expand,
        "file_id string, container string, line_no long, line string",
    )


# back-compat name (the surface began as zstd-only, clp-s parity)
read_zstd_log_lines = read_container_log_lines


def logical_input_size(path: str) -> int:
    """Bytes the compressor logically consumes from one LOCAL input — for
    container inputs (gzip, zstd, xz, bz2) the DECOMPRESSED size, matching
    the reference's uncompressed_size semantics: its readers count bytes
    drained from the decompressor chain, not the container on disk
    (ArchiveMetadata uncompressed_size feeds the compression-ratio stat).
    Streaming count in 1 MiB chunks — bounded memory on any input size."""
    try:
        with open(path, "rb") as f:
            head = f.read(6)
    except OSError:
        return 0
    stream = None
    if head[:2] == b"\x1f\x8b":
        import gzip

        stream = gzip.open(path, "rb")
    else:
        from clp_spark.sources.zstd_io import (
            container_kind,
            open_container_stream,
        )

        ckind = container_kind(head)
        if ckind is not None:
            stream = open_container_stream(path, ckind)
    if stream is None:
        return os.path.getsize(path)
    n = 0
    try:
        with stream as st:
            while True:
                chunk = st.read(1 << 20)
                if not chunk:
                    break
                n += len(chunk)
    except (OSError, ValueError, EOFError):
        return os.path.getsize(path)
    return n


def expand_tar_inputs(inputs: list[str], tmp_root: str | None = None) -> list[str]:
    """Replace any LOCAL tar/tar.gz inputs with their unpacked regular
    members (driver-side unpack into a temp dir, preserving member paths).
    Used by the JSONL ingest surfaces (`c --json`, `kv-import`) whose
    readers (spark.read.text/json) decompress *.gz natively but cannot open
    tars. One sequential unpack per tar — the same unit of sequential work
    as the reference's libarchive stream; Spark parallelism then comes from
    the member files. Non-tar inputs pass through untouched."""
    import tarfile
    import tempfile

    out: list[str] = []
    tmp_dir: str | None = None
    for p in inputs:
        if "://" in p and not p.startswith("file:"):
            out.append(p)
            continue
        local = p.removeprefix("file://")
        if not os.path.isfile(local) or classify_log_input(local) != "tar":
            out.append(p)
            continue
        if tmp_dir is None:
            tmp_dir = tempfile.mkdtemp(prefix="clp_tar_", dir=tmp_root)
        base = os.path.join(
            tmp_dir, os.path.basename(local).replace(".", "_")
        )
        import io

        from clp_spark.sources.zstd_io import maybe_decompress

        with open(local, "rb") as f:
            # tar.{zst,xz,bz2} support — unwrap the container first
            tar_bytes = maybe_decompress(f.read())
        with tarfile.open(fileobj=io.BytesIO(tar_bytes), mode="r:*") as tf:
            members = [m for m in tf.getmembers() if m.isreg()]
            tf.extractall(base, members=members, filter="data")
        out.extend(
            sorted(
                os.path.join(r, n)
                for r, _d, names in os.walk(base)
                for n in names
            )
        )
    return out


def strip_path_prefix_expr(col, prefix: str):
    """clp `c --remove-path-prefix DIR` (utils.cpp:21-35
    remove_prefix_and_clean_up_path): strip the directory prefix from the
    stored file path. `col` holds file URIs (input_file_name form); the
    scheme is normalized away and the cleaned path loses the prefix.
    Paths outside the prefix pass through unchanged — the CLI validates
    inputs against the prefix up front, mirroring the reference's
    per-path error."""
    pfx = os.path.abspath(prefix).rstrip("/") + "/"
    path = decode_file_uri_expr(col)
    return F.when(
        path.startswith(pfx),
        path.substr(F.lit(len(pfx) + 1), F.lit(1 << 30)),
    ).otherwise(path)


def read_log_lines_any(
    spark: SparkSession,
    paths: str | list[str],
    with_container: bool = False,
) -> DataFrame:
    """`read_log_lines` that also accepts gzip and tar/tar.gz inputs —
    the `clp c` everyday path (every public eval dataset ships gzipped,
    docs resources-datasets.md:11-18).

    - plain text: spark.read.text (splittable, full parallelism)
    - .gz single member: spark.read.text decompresses natively (one split
      per file — parallelism across files, same as the reference's one
      libarchive stream per input); file_id drops the final extension
      (FileCompressor.cpp:313-319 stem rule: syslog.gz → syslog)
    - tar / tar.{gz,zst,xz,bz2}: binaryFile + tarfile member expansion,
      member paths = parent_dir/member (FileCompressor.cpp:392-394)
    - zstd/xz/bz2-wrapped text: binaryFile + magic-dispatched
      decompression (clp-s InputConfig.cpp:540-575 Zstd→LogText nesting;
      xz/bz2 are libarchive filters on the clp text path), same stem rule
      as .gz

    Remote URIs (s3a://, hdfs://) skip the content sniff and read as text
    (sniffing would need a remote byte-range read per file; Hadoop still
    decompresses *.gz transparently on those paths)."""
    plist = [paths] if isinstance(paths, str) else list(paths)
    if any("://" in p and not p.startswith("file:") for p in plist):
        out = read_log_lines(spark, plist)
        return out.withColumn("container", F.col("file_id")) if with_container else out
    files = list_local_log_files(plist)
    kinds: dict[str, list[str]] = {
        "text": [], "gz": [], "tar": [], "ir": [], "kvir": [],
        "zst": [], "xz": [], "bz2": [],
    }
    for p in files:
        kinds[classify_log_input(p)].append(p)
    if kinds["ir"]:
        # IR streams hold MESSAGES, not lines — the compressors route them
        # through read_ir_encoded_messages; a line-oriented caller getting
        # one is a usage error, not data
        raise ValueError(
            "IR stream inputs are not line-oriented: " + ", ".join(kinds["ir"])
        )
    if kinds["kvir"]:
        # structured kv-IR compresses into JSON archives (`c --json`,
        # clp-s FileType::KeyValueIr), never through the text pipeline
        raise ValueError(
            "structured kv-IR inputs need `c --json` (clp-s ingestion): "
            + ", ".join(kinds["kvir"])
        )
    parts: list[DataFrame] = []
    if kinds["text"]:
        df = read_log_lines(spark, kinds["text"]).withColumn(
            "container", F.col("file_id")
        )
        parts.append(df.select("file_id", "container", "line_no", "line"))
    if kinds["gz"]:
        df = read_log_lines(spark, kinds["gz"]).withColumn(
            "container", F.col("file_id")
        )
        # stem rule: logs/syslog.gz ingests as logs/syslog
        df = df.withColumn(
            "file_id", F.regexp_replace("file_id", r"\.[^./]+$", "")
        )
        parts.append(df.select("file_id", "container", "line_no", "line"))
    if kinds["tar"]:
        parts.append(
            read_tar_log_lines(spark, kinds["tar"]).select(
                "file_id", "container", "line_no", "line"
            )
        )
    containers = kinds["zst"] + kinds["xz"] + kinds["bz2"]
    if containers:
        parts.append(
            read_container_log_lines(spark, containers).select(
                "file_id", "container", "line_no", "line"
            )
        )
    if not parts:
        # empty input set — keep read_log_lines' loud-failure contract
        return read_log_lines(spark, plist)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out if with_container else out.drop("container")


def read_ir_encoded_messages(spark: SparkSession, ir_paths: list[str]) -> DataFrame:
    """kv-free IR stream files → encoded message rows (file_id, container,
    msg_ix, ts_ms, logtype, placeholders, encoded_vars, dict_vars) — the
    `clp c` path over .clp inputs (FileCompressor.cpp:406-430
    compress_ir_stream; the stored path drops the .clp suffix,
    FileCompressor.cpp:407-411). The events already carry the archive's
    encoded triple, so ingestion is decode-free: one binaryFile task per
    stream (the reference's sequential deserializer unit) through the
    transposed zero-per-row parser (ir_to_events_df). IR events carry no
    timestamp PATTERN, so decompression renders bodies without re-inserted
    timestamp text — the reference's IR-ingest behavior."""
    from clp_spark.sources.ir_stream import ir_to_events_df

    blobs = (
        spark.read.format("binaryFile").load(ir_paths)
        # binaryFile paths are unencoded — strip the scheme so the stored
        # file_id and the container-routing joins stay raw local paths
        .select(
            F.regexp_replace("path", "^file:(//)?", "").alias("stream"),
            F.col("content").alias("ir"),
        )
    )
    ev = ir_to_events_df(blobs, "ir", "stream")
    # mapInArrow preserves intra-partition order and each stream is one
    # blob, so a mono id orders events within their stream
    ev = ev.withColumn("_m", F.monotonically_increasing_id())
    w = Window.partitionBy("stream").orderBy("_m")
    return ev.select(
        # stored path drops .clp (FileCompressor.cpp:407-411); a zstd
        # wrapper's .zst goes too (clo writes .clp.zst, clo.cpp:186-189)
        F.regexp_replace("stream", r"(\.clp)?(\.zst)?$", "").alias("file_id"),
        F.col("stream").alias("container"),
        F.row_number().over(w).cast("long").alias("msg_ix"),
        F.col("ts").alias("ts_ms"),
        "logtype", "placeholders", "encoded_vars", "dict_vars",
    )


def filename_group_key(file_col) -> "F.Column":
    """Group key for 'similar' filenames: digits stripped from the basename
    (reference clp-py-utils compression.py group_files_by_similar_filenames /
    partition.py:16-80 — rotated logs app.log.1/app.log.2 land in one task
    for dictionary locality). Spark analog: repartition on this key so one
    task encodes one rotation family — hot shared logtypes collapse in the
    map-side partial agg instead of shuffling."""
    base = F.element_at(F.split(file_col, "/"), -1)
    return F.regexp_replace(base, r"\d+", "")


def group_files_by_similar_filenames(lines: DataFrame, file_col: str = "file_id") -> DataFrame:
    """Repartition a lines/messages frame so each similar-filename family is
    co-located in one partition (encode-task grouping)."""
    return lines.repartition(filename_group_key(F.col(file_col)))


def compress_text_logs(
    spark: SparkSession,
    paths: str | list[str],
    out_dir: str,
    lock_patterns: bool = True,
    glt_layout: bool = False,
    combine_threshold_pct: float = 0.1,
    num_buckets: int = 16,
    remove_path_prefix: str | None = None,
    target_encoded_file_size: int | None = None,
    target_segment_size: int | None = None,
) -> dict:
    """Full text→archive compression; returns summary counts.

    ``target_segment_size`` caps each sink parquet FILE (the segment
    analog) at ~that many encoded bytes — the reference closes a segment
    when its uncompressed size passes the target (clp c
    --target-segment-size, streaming_archive/writer/Archive.cpp:581).
    Bytes→rows via the same File.hpp encoded-size accounting the file
    splitter uses, applied as the write's maxRecordsPerFile (a per-file
    row cap needs no extra shuffle).

    ``target_encoded_file_size`` splits big files into SPLITS of ~that many
    encoded bytes (clp c --target-encoded-file-size; FileCompressor.cpp:
    282-291 split_file when the open file's encoded size passes the
    target). Encoded size uses the reference's own accounting
    (writer/File.hpp:129-133: 8 B timestamp + 8 B logtype id + 8 B per
    variable slot). Splits become sink partition directories
    (file_id, split_ix) so a split-addressed read (`i --msg-ix`) prunes to
    one directory; msg_ix stays file-global, so decompression and search
    are unchanged. The cut is floor(cumulative-bytes / target) — the
    deterministic distributed form of the reference's sequential
    greedy-reset check (boundaries may differ by one message around exact
    multiples; layout-internal, not byte-compat).

    Layout: out_dir/{sinks,logtype_dict,var_dict} — sinks carry
    (file_id, msg_ix, ts_ms, logtype_id, placeholders, encoded_vars,
    dict_vars), partitioned by file for per-file decompression.

    ``glt_layout=True`` partitions sinks by a two-tier per-logtype table
    instead (operators/glt.py; reference glt variant's LogtypeTable store):
    searches whose candidate logtype set is small prune to just those
    tables (the GLT 7.8x-search-speed insight), at the cost of per-file
    extraction no longer being partition-pruned (file_id stays a filterable
    column, so extraction remains correct — it just scans more).
    """
    import os

    keys = ["file_id", "msg_ix", "ts_ms"] + (["ts_pat"] if lock_patterns else [])
    # IR stream inputs (magic-sniffed) skip line assembly + re-encode:
    # their events already ARE the archive's encoded triples
    plist = [paths] if isinstance(paths, str) else list(paths)
    ir_files: list[str] = []
    if not any("://" in p and not p.startswith("file:") for p in plist):
        expanded = list_local_log_files(plist)
        ir_files = [p for p in expanded if classify_log_input(p) == "ir"]
        paths = [p for p in expanded if p not in set(ir_files)]
    enc = None
    if paths or not ir_files:
        lines = read_log_lines_any(spark, paths)
        if remove_path_prefix:
            lines = lines.withColumn(
                "file_id",
                strip_path_prefix_expr(F.col("file_id"), remove_path_prefix),
            )
        messages = assemble_multiline(
            lines, lock_patterns=lock_patterns, emit_pattern=lock_patterns
        )
        enc = encode_df(messages.select(*keys, "message"), keys, "message")
    if ir_files:
        enc_ir = read_ir_encoded_messages(spark, ir_files).drop("container")
        if remove_path_prefix:
            enc_ir = enc_ir.withColumn(
                "file_id",
                strip_path_prefix_expr(F.col("file_id"), remove_path_prefix),
            )
        if lock_patterns:
            # IR carries no timestamp pattern — bodies round-trip without
            # re-inserted timestamp text (reference IR-ingest parity)
            enc_ir = enc_ir.withColumn("ts_pat", F.lit(None).cast("string"))
        enc = enc_ir if enc is None else enc.unionByName(enc_ir)
    enc = enc.persist()
    seg_rows: int | None = None
    if target_segment_size:
        # average encoded message size (File.hpp:129-133 accounting) →
        # rows per segment file; one cheap agg over the persisted encode
        avg = enc.agg(
            F.avg(
                F.lit(16) + 8 * (F.size("encoded_vars") + F.size("dict_vars"))
            ).alias("a")
        ).collect()[0]["a"]
        if avg:
            seg_rows = max(1, int(target_segment_size // avg))

    def _seg(writer):
        return (
            writer.option("maxRecordsPerFile", seg_rows) if seg_rows
            else writer
        )

    logtype_dict = assign_sorted_ids(enc.select("logtype"), "logtype", "logtype_id")
    var_dict = assign_sorted_ids(
        enc.select(F.explode("dict_vars").alias("var_value")), "var_value", "var_id"
    )
    logtype_dict.write.mode("overwrite").parquet(f"{out_dir}/logtype_dict")
    var_dict.write.mode("overwrite").parquet(f"{out_dir}/var_dict")
    sinks = enc.join(
        F.broadcast(logtype_dict.select("logtype", "logtype_id")), "logtype"
    ).select(
        *keys, "logtype", "logtype_id", "placeholders", "encoded_vars",
        "dict_vars",
    )
    if glt_layout:
        from clp_spark.operators.glt import write_glt_manifest
        from clp_spark.plans.pipeline import glt_bucket

        counts = enc.groupBy("logtype").agg(F.count("*").alias("_n"))
        total = int(counts.agg(F.sum("_n")).collect()[0][0] or 0)
        thr = total * combine_threshold_pct / 100.0
        hot = counts.where(F.col("_n") > thr).select("logtype")
        n_hot = hot.count()  # pigeonhole-bounded by 100/threshold_pct
        routed = (
            sinks.join(
                F.broadcast(hot.withColumn("_hot", F.lit(True))),
                "logtype", "left",
            )
            .withColumn(
                "lt_table",
                F.when(
                    F.col("_hot").isNotNull(),
                    F.concat(
                        F.lit("lt-"), F.substring(F.md5("logtype"), 1, 15)
                    ),
                ).otherwise(
                    F.concat(
                        F.lit("combined-"),
                        glt_bucket(F.col("logtype"), num_buckets)
                        .cast("string"),
                    )
                ),
            )
            .drop("_hot", "logtype")
        )
        _seg(
            routed.repartition(F.col("lt_table"))
            .sortWithinPartitions("lt_table", "logtype_id", "file_id", "msg_ix")
            .write.mode("overwrite").partitionBy("lt_table")
        ).parquet(f"{out_dir}/sinks")
        write_glt_manifest(
            out_dir.removeprefix("file:"), num_buckets,
            combine_threshold_pct, n_hot, total,
        )
    elif target_encoded_file_size:
        # file splitting: one window cumsum per file assigns each message
        # its split; (file_id, split_ix) partition dirs make split-addressed
        # reads a directory prune. Same in-task logtype sort as below.
        msg_bytes = (
            F.lit(16)
            + 8 * (F.size("encoded_vars") + F.size("dict_vars"))
        ).cast("long")
        w = Window.partitionBy("file_id").orderBy("msg_ix")
        cum_before = (F.sum(msg_bytes).over(w) - msg_bytes)
        split = sinks.withColumn(
            "split_ix",
            F.floor(cum_before / F.lit(int(target_encoded_file_size)))
            .cast("int"),
        )
        _seg(
            split.drop("logtype")
            .sortWithinPartitions("file_id", "split_ix", "logtype_id", "msg_ix")
            .write.mode("overwrite").partitionBy("file_id", "split_ix")
        ).parquet(f"{out_dir}/sinks")
        # split index: O(splits) rows of (file, split, begin-message-count,
        # n) — what the reference's per-split File metadata records
        # (begin_message_ix/num_messages); split-addressed readers offset
        # chunk numbering from it without touching sibling splits
        import json as _json

        srows = sorted(
            (r["file_id"], int(r["split_ix"]), int(r["n"]))
            for r in split.groupBy("file_id", "split_ix")
            .agg(F.count("*").alias("n")).collect()
        )
        index, seen = [], {}
        for fid, six, cnt in srows:
            begin = seen.get(fid, 0)
            index.append(
                {"file_id": fid, "split_ix": six, "begin": begin, "n": cnt}
            )
            seen[fid] = begin + cnt
        local_out = out_dir.removeprefix("file:")
        with open(os.path.join(local_out, "split_index.json"), "w") as f:
            _json.dump(index, f)
    else:
        # Storage order: rows sort by logtype within each file's segment
        # (the GLT insight — same-template rows have near-identical var
        # columns, so zstd+parquet sees runs instead of interleave; measured
        # 19.6% smaller on a 5-template corpus, 4.8x → 6.0x). In-task sort
        # only (file_id leads, so the write's partition ordering is already
        # satisfied — no extra shuffle, and msg_ix last keeps
        # decompression's orderBy cheap).
        _seg(
            sinks.drop("logtype")
            .sortWithinPartitions("file_id", "logtype_id", "msg_ix")
            .write.mode("overwrite").partitionBy("file_id")
        ).parquet(f"{out_dir}/sinks")
    # catalog row (message count + ts range + sizes) — what the reference
    # records in the global metadata DB per archive (ArchiveMetadata
    # uncompressed_size/size → compression ratio); read by federated pruning
    from clp_spark.operators.federation import dir_bytes, write_archive_metadata

    extra = {}
    local = out_dir.removeprefix("file:") if "://" not in out_dir or out_dir.startswith("file:") else None
    if local is not None:
        raw = sum(
            logical_input_size(p)
            for p in list_local_log_files(
                (paths if isinstance(paths, list) else [paths]) + ir_files
            )
            if os.path.exists(p)
        )
        if raw:
            extra["raw_bytes"] = raw
            extra["archive_bytes"] = dir_bytes(local)
    meta = write_archive_metadata(spark, out_dir, extra=extra or None)
    out = {
        "messages": meta["messages"],
        "logtypes": logtype_dict.count(),
        "variables": var_dict.count(),
        **extra,
    }
    enc.unpersist()
    return out


def decompress_file(
    spark: SparkSession, out_dir: str, file_id: str | None = None,
    restore_timestamps: bool = True, ordered: bool = True,
) -> DataFrame:
    """Reconstruct original messages (ordered by msg_ix) — the `clp x` path.

    Archives that carry the per-message ts_pat column (written by the
    compressors when pattern locking is on) get their timestamp text
    re-rendered into the message — the reference re-renders each message's
    timestamp from its stored pattern on decompression
    (TimestampPattern.cpp insert_formatted_timestamp); pass
    restore_timestamps=False for the raw stripped bodies."""
    from clp_spark.functions.timestamps import restore_timestamp
    from clp_spark.operators.decode import decode_df

    sinks = spark.read.option("basePath", f"{out_dir}/sinks").parquet(f"{out_dir}/sinks")
    if file_id is not None:
        # one id or several (clp x's trailing `paths...` positionals,
        # clp/CommandLineArguments.cpp:166-176); match tolerant of the
        # URI-scheme spelling difference between stored ids and typed paths
        import re as _re

        ids = [file_id] if isinstance(file_id, str) else list(file_id)
        col_norm = F.regexp_replace(F.col("file_id"), r"^file:/+", "/")
        pred = None
        for fid in ids:
            p = (F.col("file_id") == fid) | (
                col_norm == _re.sub(r"^file:/+", "/", fid)
            )
            pred = p if pred is None else (pred | p)
        sinks = sinks.where(pred)
    logtype_dict = spark.read.parquet(f"{out_dir}/logtype_dict")
    with_lt = sinks.join(
        F.broadcast(logtype_dict.select("logtype_id", "logtype")), "logtype_id"
    )
    keep = ["file_id", "msg_ix", "ts_ms"]
    has_pat = "ts_pat" in sinks.columns
    out = decode_df(with_lt, keep + (["ts_pat"] if has_pat else []))
    if has_pat and restore_timestamps:
        out = out.withColumn(
            "message",
            restore_timestamp(F.col("message"), F.col("ts_ms"), F.col("ts_pat")),
        )
    out = out.select(*keep, "message")
    # ordered=False skips the global range-partition sort for callers that
    # impose their own partitioning right after (extract_to_files sorts
    # within per-file partitions — a global orderBy there would be paid and
    # then immediately destroyed by the repartition)
    return out.orderBy("file_id", "msg_ix") if ordered else out


def list_local_log_files(inputs: list[str]) -> list[str]:
    """Expand local dirs/globs/files into a sorted concrete file list (the
    driver-side enumeration the reference scheduler does before planning)."""
    import glob as _glob
    import os

    out: list[str] = []
    for p in inputs:
        if os.path.isdir(p):
            for root, _dirs, names in os.walk(p):
                out.extend(os.path.join(root, n) for n in names)
        elif os.path.isfile(p):
            # literal path wins over glob interpretation: a real file whose
            # name contains '[' (e.g. /var/log/app[1]/x.log) must not be
            # silently dropped by a failed character-class match
            out.append(p)
        elif any(c in p for c in "*?["):
            out.extend(_glob.glob(p))
        else:
            out.append(p)  # nonexistent literal — let the read fail loudly
    return sorted(out)


def _archive_dict_ids(
    distinct: DataFrame, value_col: str, id_col: str
) -> DataFrame:
    """Per-archive deterministic dictionary ids: dense 0-based rank in sorted
    value order WITHIN each archive — `assign_sorted_ids` semantics, but the
    window partitions by archive_id, so every archive's dictionary ranks in
    parallel (no coalesce(1), no per-archive jobs; one shuffle for all
    archives)."""
    w = Window.partitionBy("archive_id").orderBy(value_col)
    return distinct.withColumn(
        id_col, (F.row_number().over(w) - F.lit(1)).cast("long")
    )


def compress_text_logs_multi(
    spark: SparkSession,
    paths: list[str],
    archives_dir: str,
    target_archive_size: int,
    lock_patterns: bool = True,
    remove_path_prefix: str | None = None,
    sort_input_files: bool = True,
    target_dictionaries_size: int | None = None,
    target_segment_size: int | None = None,
) -> dict:
    """`clp c` over many files with ARCHIVE SPLITTING: inputs are grouped by
    similar filename and cut into archive-sized tasks (the reference
    scheduler's partition.py flow, via plans/partitioning.cut_tasks), and the
    whole set compresses in ONE Spark pass:

    - one text scan over every file, file→archive routed by a broadcast map;
    - one encode pass (mapInArrow kernel) for all archives;
    - per-archive dictionaries built simultaneously — dense sorted ids via a
      window partitioned by archive_id (id assignment parallelizes ACROSS
      archives instead of running N sequential dictionary builds);
    - one partitioned write per dataset, then O(archives) driver renames
      into the standard per-archive layout + metadata.json catalog rows.

    Local filesystem only (the rename step); each produced archive is
    readable by `decompress_file` / `search_archive` / federated
    `search_archives`. Reference: archives split at a target size
    (clp/streaming_archive/writer/Archive split logic +
    scheduler partition.py target_archive_size).

    ``target_dictionaries_size`` adds the reference's second archive-cut
    criterion (clp c --target-dictionaries-size, compression.cpp:128,156:
    a new archive starts once the open archive's dictionary data reaches
    the target, checked between files): per-file dictionary contributions
    (distinct logtype + dict-var bytes per file — an upper bound of union
    growth, since entries shared ACROSS files count once per file; the cut
    is layout-internal so the bound only makes archives at most smaller)
    feed the same greedy planner as the raw-size target. One extra
    distinct+sum agg pair over the persisted encode, O(files) driver rows.
    ``target_segment_size`` caps sink parquet files like
    compress_text_logs.
    """
    import json
    import os
    import shutil

    from clp_spark.operators.federation import METADATA_FILE, dir_bytes
    from clp_spark.plans.partitioning import FileMeta, cut_tasks

    files = [FileMeta(os.path.abspath(p), os.path.getsize(p)) for p in paths]

    # container = the INPUT file's URI (for tar members / stem-renamed .gz
    # the emitted file_id differs from the input path); the task cut routes
    # by input file, so archive assignment joins on container, not file_id
    lines = read_log_lines_any(
        spark, [f.path for f in files], with_container=True
    )
    if remove_path_prefix:
        # strip file_id only — `container` keeps the input URI so the
        # broadcast archive-routing join below still keys on it
        lines = lines.withColumn(
            "file_id", strip_path_prefix_expr(F.col("file_id"), remove_path_prefix)
        )
    messages = assemble_multiline(
        lines, lock_patterns=lock_patterns, emit_pattern=lock_patterns,
        passthrough=("container",),
    )
    keys = ["file_id", "msg_ix", "ts_ms"] + (["ts_pat"] if lock_patterns else [])
    enc = encode_df(
        messages.select(*keys, "container", "message"),
        keys + ["container"], "message",
    )
    enc_base = (
        enc.withColumn("abs_path", decode_file_uri_expr("container"))
        .drop("container")
        .persist()
    )
    dict_weights: dict[str, int] | None = None
    if target_dictionaries_size:
        dict_weights = {}
        for df_sz in (
            enc_base.select("abs_path", "logtype").distinct()
            .groupBy("abs_path").agg(F.sum(F.length("logtype")).alias("b")),
            enc_base.select("abs_path", F.explode("dict_vars").alias("v"))
            .distinct()
            .groupBy("abs_path").agg(F.sum(F.length("v")).alias("b")),
        ):
            for r in df_sz.collect():
                dict_weights[r["abs_path"]] = (
                    dict_weights.get(r["abs_path"], 0) + int(r["b"] or 0)
                )
    tasks = cut_tasks(
        files, target_archive_size,
        extra_weights=dict_weights, extra_target=target_dictionaries_size,
    )
    if sort_input_files:
        # clp `c --sort-input-files` (default true, compression.cpp:122-126
        # file_gt_last_write_time_comparator): compression runs in
        # DESCENDING last-modified order, so the newest logs fill the first
        # archives. The name-grouping planner owns WHICH files share a task
        # (scheduler parity); mtime owns the archive ORDER — tasks renumber
        # by their newest member.
        mt = {f.path: os.path.getmtime(f.path) for f in files}
        tasks.sort(
            key=lambda t: max(mt[p] for p in t.file_paths), reverse=True
        )
        for i, t in enumerate(tasks):
            t.task_id = i
    aid_of = {
        p: f"arch-{t.task_id:05d}" for t in tasks for p in t.file_paths
    }
    path_map = spark.createDataFrame(
        list(aid_of.items()), "abs_path string, archive_id string"
    )
    # broadcast hash probe over the persisted base — re-run per downstream
    # job, but shuffle-free and O(1) per row
    enc = enc_base.join(F.broadcast(path_map), "abs_path").drop("abs_path")

    lt_dict = _archive_dict_ids(
        enc.select("archive_id", "logtype").distinct(), "logtype", "logtype_id"
    )
    var_dict = _archive_dict_ids(
        enc.select(
            "archive_id", F.explode("dict_vars").alias("var_value")
        ).distinct(),
        "var_value",
        "var_id",
    )
    sinks = enc.join(lt_dict, ["archive_id", "logtype"]).select(
        "archive_id", *keys, "logtype_id",
        "placeholders", "encoded_vars", "dict_vars",
    )

    staging = os.path.join(archives_dir, "_staging")
    # repartition on (archive_id, file_id): write parallelism scales with
    # file count while each file dir stays a single output file. Rows sort
    # by logtype within each segment for compression (GLT insight — ~20%
    # smaller, see compress_text_logs); in-task sort, no extra shuffle.
    sink_writer = (
        sinks.repartition("archive_id", "file_id")
        .sortWithinPartitions("archive_id", "file_id", "logtype_id", "msg_ix")
        .write.mode("overwrite")
        .partitionBy("archive_id", "file_id")
    )
    if target_segment_size:
        avg = enc_base.agg(
            F.avg(
                F.lit(16) + 8 * (F.size("encoded_vars") + F.size("dict_vars"))
            ).alias("a")
        ).collect()[0]["a"]
        if avg:
            sink_writer = sink_writer.option(
                "maxRecordsPerFile", max(1, int(target_segment_size // avg))
            )
    sink_writer.parquet(os.path.join(staging, "sinks"))
    lt_dict.write.mode("overwrite").partitionBy("archive_id").parquet(
        os.path.join(staging, "logtype_dict")
    )
    var_dict.write.mode("overwrite").partitionBy("archive_id").parquet(
        os.path.join(staging, "var_dict")
    )

    # O(archives) driver work: assemble the per-archive directory layout
    stats = {
        r["archive_id"]: r
        for r in enc.groupBy("archive_id")
        .agg(
            F.count("*").alias("messages"),
            F.min("ts_ms").alias("begin"),
            F.max("ts_ms").alias("end"),
        )
        .collect()
    }
    enc_base.unpersist()
    summary = {"archives": 0, "messages": 0}
    for t in tasks:
        aid = f"arch-{t.task_id:05d}"
        if aid not in stats:
            continue  # task produced no messages (e.g. empty files) — the
            # reference emits no archive for an empty task either
        root = os.path.join(archives_dir, aid)
        os.makedirs(root, exist_ok=True)
        for sub in ("sinks", "logtype_dict", "var_dict"):
            src = os.path.join(staging, sub, f"archive_id={aid}")
            dst = os.path.join(root, sub)
            if os.path.isdir(src):
                if os.path.isdir(dst):
                    shutil.rmtree(dst)
                os.replace(src, dst)
            elif not os.path.isdir(dst):
                # an archive with no dictionary variables still needs a
                # readable (schema-bearing, empty) var_dict
                schema = (
                    "var_value string, var_id long"
                    if sub == "var_dict"
                    else "logtype string, logtype_id long"
                )
                spark.createDataFrame([], schema).write.parquet(dst)
        st = stats.get(aid)
        meta = {
            "messages": int(st["messages"]) if st else 0,
            "begin_ts_ms": int(st["begin"]) if st and st["begin"] is not None else None,
            "end_ts_ms": int(st["end"]) if st and st["end"] is not None else None,
            # ArchiveMetadata uncompressed_size / size — the reference's
            # headline compression-ratio figures, per archive
            "raw_bytes": t.total_size,
            "archive_bytes": dir_bytes(root),
        }
        with open(os.path.join(root, METADATA_FILE + ".tmp"), "w") as f:
            json.dump(meta, f)
        os.replace(
            os.path.join(root, METADATA_FILE + ".tmp"),
            os.path.join(root, METADATA_FILE),
        )
        summary["archives"] += 1
        summary["messages"] += meta["messages"]
        summary["raw_bytes"] = summary.get("raw_bytes", 0) + t.total_size
        summary["archive_bytes"] = (
            summary.get("archive_bytes", 0) + meta["archive_bytes"]
        )
    shutil.rmtree(staging, ignore_errors=True)
    return summary


def extract_to_files(
    spark: SparkSession, archive_dir: str, out_dir: str,
    file_id: str | None = None,
) -> dict:
    """`clp x <archive> <out-dir>`: reconstruct ONE output file per original
    input file (the reference decompressor recreates the source files,
    clp/Decompressor — not a row dump). Spark shape: each source file's
    messages sort inside one partition and write through
    partitionBy(file_id), so file reconstruction parallelizes across files
    with no driver data movement; the driver only renames O(files) part
    files to the original basenames."""
    import os
    import shutil

    msgs = decompress_file(spark, archive_dir, file_id=file_id, ordered=False)
    staging = os.path.join(out_dir, "_staging")
    (
        msgs.repartition("file_id")
        .sortWithinPartitions("file_id", "msg_ix")
        .select("file_id", "message")
        .write.mode("overwrite")
        .partitionBy("file_id")
        .text(staging)
    )
    os.makedirs(out_dir, exist_ok=True)
    summary = {"files": 0}
    seen: set[str] = set()
    for entry in sorted(os.scandir(staging), key=lambda e: e.name):
        if not (entry.is_dir() and entry.name.startswith("file_id=")):
            continue
        from urllib.parse import unquote

        # one unquote undoes Spark's partition-directory escaping; the
        # stored file_id may itself be an input_file_name URI whose
        # percent-escapes must decode for the ORIGINAL file name
        uri = decode_file_uri(unquote(entry.name[len("file_id="):]))
        base = uri.rstrip("/").rsplit("/", 1)[-1]
        if base in seen:  # same basename from different source dirs
            base = f"{base}.{summary['files']}"
        seen.add(base)
        parts = sorted(
            p.path for p in os.scandir(entry.path) if p.name.startswith("part-")
        )
        dst = os.path.join(out_dir, base)
        with open(dst, "wb") as f:
            for p in parts:
                with open(p, "rb") as src:
                    shutil.copyfileobj(src, f)
        summary["files"] += 1
    shutil.rmtree(staging, ignore_errors=True)
    return summary


def extract_ir_from_archive(
    spark: SparkSession,
    archive_dir: str,
    out_dir: str,
    file_id: str | None = None,
    events_per_chunk: int = 1024,
    encoding: str = "eight",
    split_ix: int | None = None,
    chunk_compression: str = "none",
    target_size: int | None = None,
) -> dict:
    """`clo i` analog (clo.cpp:120-240 extract_ir): re-emit a compressed
    file's events from an EXISTING archive as kv-free IR chunk files — the
    log-viewer workflow's final leg (search → open file → stream IR).

    The archive already stores the encoded triples, so no re-parse happens:
    sinks + broadcast logtype join feed `events_to_ir_df` directly, making
    extraction differential-identical to `convert_to_ir` of the original
    text (tests/test_extract_ir.py proves byte-equality of the chunk
    stream). Chunks distribute across executors; the final file writes
    stream through the driver (`toLocalIterator`, one chunk in memory at a
    time) because the reference's clo is likewise a single-node writer that
    renames local chunks into the output dir (clo.cpp:185-201). Naming
    parity: {orig_file_basename}_{begin_msg_ix}_{end_msg_ix}.clp
    (clo.cpp:186-189). ``chunk_compression="zstd"`` zstd-wraps each chunk
    and names it ``.clp.zst`` — exactly the container the reference's clo
    always writes (clo.cpp:186-189 cIrFileExtension ".clp.zst"); "none"
    (default) writes raw IR. Every ingestion/search surface in this repo
    sniffs the zstd magic and unwraps transparently, so either form
    round-trips. ``target_size`` switches chunk cutting from event count
    to UNCOMPRESSED serialized bytes — `clo i --target-size`
    (CommandLineArguments.hpp:187, default 128 MiB there): a chunk closes
    after the first event that brings it to >= the target
    (FileDecompressor.hpp decompress_to_ir check-before-appending). A results-cache analog row per chunk (path, stream_id,
    begin_msg_ix, end_msg_ix, is_last_chunk —
    cResultsCacheKeys::IrOutput) lands in out_dir/ir_manifest.jsonl."""
    import json

    from clp_spark.sources.ir_stream import events_to_ir_df

    sinks = spark.read.option("basePath", f"{archive_dir}/sinks").parquet(
        f"{archive_dir}/sinks"
    )
    if file_id is not None:
        # accept a full URI or any unambiguous path suffix (the reference
        # addresses splits by id; a viewer passes the file it wants)
        sinks = sinks.where(
            (F.col("file_id") == file_id)
            | F.col("file_id").endswith("/" + file_id.lstrip("/"))
        )
    if split_ix is not None:
        if "split_ix" not in sinks.columns:
            raise ValueError("archive has no file splits (compressed "
                             "without --target-encoded-file-size)")
        # (file_id, split_ix) is a partition directory — this prunes to it
        sinks = sinks.where(F.col("split_ix") == split_ix)
    logtype_dict = spark.read.parquet(f"{archive_dir}/logtype_dict")
    enc = sinks.join(
        F.broadcast(logtype_dict.select("logtype_id", "logtype")), "logtype_id"
    ).select(
        F.col("file_id").alias("stream"),
        F.col("msg_ix"),
        F.coalesce(F.col("ts_ms"), F.lit(0)).alias("ts"),
        "logtype", "placeholders", "encoded_vars", "dict_vars",
    )
    chunks = events_to_ir_df(
        enc, "ts", "stream", events_per_chunk=events_per_chunk,
        order_col="msg_ix", encoding=encoding,
        target_chunk_bytes=target_size,
    )
    # chunk names carry FILE-GLOBAL message indexes (clo.cpp:186-189 names
    # {orig}_{begin}_{end} with the original file's numbering) — when a
    # SPLIT extracts, its chunks start at the split's begin message count,
    # read from the archive's O(splits) split index (never from sibling
    # split data)
    off_expr = F.lit(0).cast("long")
    if split_ix is not None:
        with open(
            os.path.join(archive_dir.removeprefix("file:"), "split_index.json")
        ) as f:
            begins = {
                e["file_id"]: int(e["begin"])
                for e in json.load(f) if e["split_ix"] == split_ix
            }
        off_expr = F.coalesce(
            *[F.when(F.col("stream") == fid, F.lit(b).cast("long"))
              for fid, b in begins.items()],
            F.lit(0).cast("long"),
        ) if begins else off_expr
    w = Window.partitionBy("stream").orderBy("chunk_ix")
    numbered = chunks.select(
        "stream", "chunk_ix", "n_events", "ir",
        (F.sum("n_events").over(w) - F.col("n_events") + off_expr)
        .alias("begin_ix"),
        (F.max("chunk_ix").over(Window.partitionBy("stream")) == F.col("chunk_ix")
         ).alias("is_last"),
    ).orderBy("stream", "chunk_ix")
    os.makedirs(out_dir, exist_ok=True)
    manifest = []
    if chunk_compression not in ("none", "zstd"):
        raise ValueError(f"unsupported chunk compression {chunk_compression!r}")
    for row in numbered.toLocalIterator():
        base = row["stream"].rstrip("/").rsplit("/", 1)[-1]
        begin = int(row["begin_ix"])
        end = begin + int(row["n_events"])
        payload = bytes(row["ir"])
        name = f"{base}_{begin}_{end}.clp"
        if chunk_compression == "zstd":
            from clp_spark.sources.zstd_io import zstd_compress

            payload = zstd_compress(payload)
            name += ".zst"
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(payload)
        manifest.append({
            "path": name,
            "stream_id": row["stream"],
            "begin_msg_ix": begin,
            "end_msg_ix": end,
            "is_last_chunk": bool(row["is_last"]),
        })
    with open(os.path.join(out_dir, "ir_manifest.jsonl"), "w") as f:
        for m in manifest:
            f.write(json.dumps(m) + "\n")
    return {
        "chunks": len(manifest),
        "events": sum(m["end_msg_ix"] - m["begin_msg_ix"] for m in manifest),
        "files": sorted({m["stream_id"] for m in manifest}),
    }


def convert_to_ir(
    spark: SparkSession,
    paths: str | list[str],
    out_dir: str,
    events_per_chunk: int = 1024,
    lock_patterns: bool = True,
    encoding: str = "eight",
) -> dict:
    """Log-converter analog (reference clp_s/log_converter/LogConverter.hpp:
    15-18: text logs → kv-IR files): raw text files → pattern-locked message
    assembly → CLP encode → chunked IR stream rows (8-byte by default,
    ``encoding="four"`` for the compact four-byte protocol — ir_four.py),
    one stream per source file, written as parquet of (stream, n_events,
    ir). The chunks feed `streaming.ingest.run_ir_ingest_stream` or
    `sources.ir_stream.ir_to_events_df`.
    """
    from clp_spark.sources.ir_stream import events_to_ir_df

    lines = read_log_lines_any(spark, paths)
    messages = assemble_multiline(lines, lock_patterns=lock_patterns)
    enc = encode_df(
        messages.select(
            F.col("file_id").alias("stream"),
            F.col("msg_ix"),
            F.coalesce(F.col("ts_ms"), F.lit(0)).alias("ts"),
            F.col("message"),
        ),
        ["stream", "msg_ix", "ts"],
        "message",
    )
    # order_col=msg_ix: the emitted IR preserves source log order (the
    # reference LogConverter writes events in file order; ts alone cannot
    # recover it — ms ties and timestamp-less continuations)
    chunks = events_to_ir_df(
        enc, "ts", "stream", events_per_chunk=events_per_chunk,
        order_col="msg_ix", encoding=encoding,
    )
    chunks.write.mode("overwrite").parquet(out_dir)
    stats = spark.read.parquet(out_dir).agg(
        F.count("*").alias("chunks"),
        F.sum("n_events").alias("events"),
        F.sum(F.length("ir")).alias("ir_bytes"),
    ).collect()[0]
    return {
        "chunks": int(stats["chunks"]),
        "events": int(stats["events"] or 0),
        "ir_bytes": int(stats["ir_bytes"] or 0),
    }
