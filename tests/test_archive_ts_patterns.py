"""Each text archive records its timestamp patterns in metadata.json
(`ts_patterns`), and `s` / `x` re-render timestamps with just those; an
archive without the key re-renders with every known pattern."""

import json
import os

import pytest
from pyspark.sql import functions as F

from clp_spark import cli
from clp_spark.operators.federation import (
    METADATA_FILE,
    discover_archives,
    read_archive_metadata,
)

# two files, two timestamp patterns (iso_space_comma_ms, iso_T_dot_ms), one
# continuation line with no timestamp
INPUTS = {
    "svc.log": (
        "2016-05-08 07:34:05,251 INFO starting job 42\n"
        "  detail line\n"
        "2016-05-08 07:34:06,002 WARN slow response 120 ms\n"
    ),
    "api.log": (
        "2017-11-02T09:00:00.000 INFO starting job 99\n"
        "2017-11-02T09:00:01.500 ERROR failed job 7\n"
    ),
}
# what `s *job*` prints: the matched messages, timestamps re-rendered (the
# first one carries its continuation line)
JOB_LINES = sorted([
    "2016-05-08 07:34:05,251 INFO starting job 42",
    "  detail line",
    "2017-11-02T09:00:00.000 INFO starting job 99",
    "2017-11-02T09:00:01.500 ERROR failed job 7",
])


def _write_inputs(d) -> list[str]:
    d.mkdir(exist_ok=True)
    for name, text in INPUTS.items():
        (d / name).write_text(text)
    return sorted(str(d / n) for n in INPUTS)


def _sink_patterns(spark, archive: str) -> list[str]:
    sinks = spark.read.option("basePath", f"{archive}/sinks").parquet(f"{archive}/sinks")
    return sorted(
        r["ts_pat"]
        for r in sinks.where(F.col("ts_pat").isNotNull())
        .select("ts_pat").distinct().collect()
    )


def _drop_key(archive: str) -> None:
    meta = read_archive_metadata(archive)
    del meta["ts_patterns"]
    with open(os.path.join(archive, METADATA_FILE), "w") as f:
        json.dump(meta, f)


def _run(capsys, *argv) -> str:
    capsys.readouterr()
    cli.main(list(argv))
    return capsys.readouterr().out


def _extracted(out_dir: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name)) as f:
            out[name] = f.read()
    return out


@pytest.fixture(scope="module")
def two_pattern_archive(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("tspat")
    paths = _write_inputs(root / "in")
    archive = str(root / "arch")
    cli.main(["c", archive, *paths])
    return archive


def test_single_archive_records_its_patterns(spark, two_pattern_archive):
    meta = read_archive_metadata(two_pattern_archive)
    assert meta["ts_patterns"] == _sink_patterns(spark, two_pattern_archive)
    assert meta["ts_patterns"] == ["iso_T_dot_ms", "iso_space_comma_ms"]


def test_split_archives_record_their_own_patterns(spark, tmp_path, capsys):
    paths = _write_inputs(tmp_path / "in")
    root = str(tmp_path / "archives")
    _run(capsys, "c", root, *paths, "--target-archive-size", "10")
    archives = discover_archives(root)
    assert len(archives) == 2
    seen = []
    for _aid, path in archives:
        pats = read_archive_metadata(path)["ts_patterns"]
        assert pats == _sink_patterns(spark, path)
        seen += pats
    assert sorted(seen) == ["iso_T_dot_ms", "iso_space_comma_ms"]
    # a federated `s` over members with different patterns prints the
    # original lines
    out = _run(capsys, "s", root, "*job*")
    assert sorted(out.splitlines()) == JOB_LINES


def test_no_pattern_lock_records_no_patterns(tmp_path, capsys):
    paths = _write_inputs(tmp_path / "in")
    archive = str(tmp_path / "arch")
    _run(capsys, "c", archive, *paths, "--no-pattern-lock")
    assert "ts_patterns" not in read_archive_metadata(archive)


def test_two_pattern_archive_searches_and_extracts_originals(
    two_pattern_archive, tmp_path, capsys
):
    out = _run(capsys, "s", two_pattern_archive, "*job*")
    assert sorted(out.splitlines()) == JOB_LINES
    dest = str(tmp_path / "x")
    _run(capsys, "x", two_pattern_archive, "-o", dest)
    assert _extracted(dest) == INPUTS


def test_archive_without_the_key_gives_the_same_output(
    spark, tmp_path, capsys
):
    """The full-chain fallback (an archive written before the key existed)
    prints exactly what the recorded patterns print."""
    paths = _write_inputs(tmp_path / "in")
    archive = str(tmp_path / "arch")
    _run(capsys, "c", archive, *paths)

    def outputs(tag):
        dest = str(tmp_path / f"x-{tag}")
        _run(capsys, "x", archive, "-o", dest)
        return (_run(capsys, "s", archive, "*"),
                _run(capsys, "s", archive, "*job*", "--count"),
                _extracted(dest))

    with_key = outputs("key")
    _drop_key(archive)
    assert "ts_patterns" not in read_archive_metadata(archive)
    assert outputs("nokey") == with_key
    assert with_key[2] == INPUTS
