"""GLT-layout archives + logtype-table-pruned search (reference glt variant:
LogtypeTable.hpp:13-18 per-logtype tables; glt.md:7 — 7.8x faster search by
scanning only matching tables). Contracts:

1. search parity: GLT-pruned search ≡ plain search_archive result set;
2. plan assert: the pruned scan carries a PARTITION filter on lt_table
   (directory pruning, not a post-scan filter);
3. extraction stays byte-exact from a GLT archive.
"""

import pytest
from pyspark.sql import functions as F

# 6 templates with very different frequencies → a hot head + a cold tail
TEMPLATES = [
    ("INFO job {} done in {} ms", 400),          # hot
    ("WARN slow query {} took {} ms", 200),      # hot
    ("ERROR node {} unreachable", 25),
    ("DEBUG cache miss key {}", 12),
    ("INFO checkpoint {} flushed", 6),
    ("FATAL disk {} full", 2),
]


@pytest.fixture(scope="module")
def logdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("glt_logs")
    lines = []
    n = 0
    for tpl, cnt in TEMPLATES:
        for i in range(cnt):
            body = tpl.format(*(str(100 + n + j) for j in range(tpl.count("{}"))))
            lines.append(f"2016-05-08 07:{(n // 60) % 60:02d}:{n % 60:02d},000 {body}")
            n += 1
    # interleave deterministically so logtypes don't arrive pre-sorted
    lines = [lines[i] for i in range(0, len(lines), 7)] + [
        lines[i] for i in range(len(lines)) if i % 7 != 0
    ]
    (d / "app.log").write_text("\n".join(lines) + "\n")
    return str(d)


@pytest.fixture(scope="module")
def archives(spark, logdir, tmp_path_factory):
    from clp_spark.sources.logfiles import compress_text_logs

    plain = str(tmp_path_factory.mktemp("arch_plain"))
    glt = str(tmp_path_factory.mktemp("arch_glt"))
    compress_text_logs(spark, f"{logdir}/*.log", plain)
    s = compress_text_logs(
        spark, f"{logdir}/*.log", glt, glt_layout=True,
        combine_threshold_pct=5.0, num_buckets=4,
    )
    return plain, glt, s


def test_manifest_and_tiering(archives):
    from clp_spark.operators.glt import is_glt_archive, read_glt_manifest

    plain, glt, s = archives
    assert is_glt_archive(glt) and not is_glt_archive(plain)
    m = read_glt_manifest(glt)
    assert m["num_buckets"] == 4
    # at a 5% threshold the two head templates qualify as hot
    assert m["hot_logtypes"] >= 2
    assert m["total_rows"] == s["messages"]


def test_layout_partitions(archives):
    import os

    _plain, glt, _s = archives
    parts = sorted(
        e for e in os.listdir(f"{glt}/sinks") if e.startswith("lt_table=")
    )
    hot = [p for p in parts if p.startswith("lt_table=lt-")]
    combined = [p for p in parts if p.startswith("lt_table=combined-")]
    assert hot and combined


@pytest.mark.parametrize(
    "query",
    [
        "*unreachable*",          # single cold logtype
        "*slow query*",           # single hot logtype
        "*job * done*",           # hot head
        "*disk * full*",          # rarest
        "* 10? *",                # var-constrained, many logtypes
        "*nonexistent-text*",     # empty result
    ],
)
def test_search_parity(spark, archives, query):
    """GLT-pruned search returns EXACTLY what the plain path returns."""
    from clp_spark.operators.search import search_archive, search_archive_dir

    plain, glt, _s = archives
    sinks = spark.read.option("basePath", f"{plain}/sinks").parquet(
        f"{plain}/sinks"
    ).withColumn("doc_id", F.concat_ws("#", "file_id", "msg_ix")).withColumn(
        "source", F.col("file_id")
    )
    lt = spark.read.parquet(f"{plain}/logtype_dict")
    vd = spark.read.parquet(f"{plain}/var_dict")
    want = sorted(
        (r["doc_id"].rsplit("/", 1)[-1], r["message"])
        for r in search_archive(sinks, lt, vd, query).collect()
    )
    got_df, tables = search_archive_dir(spark, glt, query)
    got = sorted(
        (r["doc_id"].rsplit("/", 1)[-1], r["message"]) for r in got_df.collect()
    )
    assert got == want


def test_partition_filter_in_plan(spark, archives):
    """The pruned scan must show lt_table as a PartitionFilters entry —
    directory pruning before I/O, not a row filter after it."""
    from clp_spark.operators.search import search_archive_dir

    _plain, glt, _s = archives
    res, tables = search_archive_dir(spark, glt, "*unreachable*")
    assert tables is not None and 1 <= len(tables) <= 2
    plan = res._sc._jvm.PythonSQLUtils.explainString(
        res._jdf.queryExecution(), "formatted"
    )
    assert "lt_table" in plan
    scan_lines = [
        ln for ln in plan.splitlines() if "Partition" in ln and "lt_table" in ln
    ]
    assert scan_lines, plan


def test_match_all_query_scans_everything(spark, archives):
    """A query with no id constraint falls back to the full scan (tables
    list None) and still answers correctly."""
    from clp_spark.operators.search import search_archive_dir

    _plain, glt, s = archives
    res, tables = search_archive_dir(spark, glt, "*")
    assert tables is None
    assert res.count() == s["messages"]


def test_glt_extraction_byte_exact(spark, archives, logdir, tmp_path):
    """Decompression from a GLT archive reproduces the original file
    byte-exactly (file_id is a plain column now, still filterable)."""
    from clp_spark.sources.logfiles import extract_to_files

    _plain, glt, _s = archives
    out = str(tmp_path / "xout")
    extract_to_files(spark, glt, out)
    orig = open(f"{logdir}/app.log", "rb").read()
    got = open(f"{out}/app.log", "rb").read()
    assert got == orig
