"""SAM source/sink: differential against the reference's test.sam fixture
(read-only at /root/reference/src/test/resources/), roundtrip, interval
filtering — the reference's own test strategy (SURVEY §5).

Hermetic, from the committed twins written through ``SamSink``: the line
tasks' ``parse_sam_line`` gives the rows of the Spark SQL reference parse
(``tests/sam_reference.py``); stringency applies before the traversal;
``split_size`` plans the read's tasks and leaves the session's confs
alone."""

from __future__ import annotations

from pathlib import Path

import pytest

from disq_original_spark.sources.headers import SamHeader
from disq_original_spark.sources.sam import SamSink, SamSource

from .sam_reference import with_alignment_span

FIXTURE = "/root/reference/src/test/resources/test.sam"


def _oracle_records(path: str) -> list[str]:
    return [
        line.rstrip("\n")
        for line in Path(path).read_text().splitlines()
        if line and not line.startswith("@")
    ]


@pytest.fixture(scope="module")
def sam_df(spark):
    return SamSource().read(spark, FIXTURE)


def test_count_matches_single_threaded_oracle(sam_df):
    assert sam_df.count() == len(_oracle_records(FIXTURE))


def test_parse_fields(sam_df):
    rows = {r["qname"]: r for r in sam_df.collect()}
    oracle = _oracle_records(FIXTURE)
    for line in oracle:
        f = line.split("\t")
        row = rows[f[0]]
        assert row["flag"] == int(f[1])
        assert (row["rname"] or "*") == f[2]
        assert row["pos"] == int(f[3])
        assert row["cigar"] == f[5]
        assert row["seq"] == f[9]
        # aux tags preserved with type info
        for tag in f[11:]:
            k, rest = tag.split(":", 1)
            assert row["attributes"][k] == rest


def test_header_parse():
    h = SamSource().read_header(FIXTURE)
    assert h.text.startswith("@HD")
    assert all(isinstance(c, tuple) for c in h.contigs)


def test_roundtrip_single_file(spark, tmp_path, sam_df):
    out = str(tmp_path / "out.sam")
    header = SamSource().read_header(FIXTURE)
    SamSink().write(sam_df, header, out)
    # header preserved
    text = Path(out).read_text()
    assert text.startswith(header.text)
    # semantic roundtrip: re-read equals original (as multisets of lines)
    again = SamSource().read(spark, out)
    orig_lines = sorted(_oracle_records(FIXTURE))
    new_lines = sorted(
        line for line in text.splitlines() if line and not line.startswith("@")
    )
    assert new_lines == orig_lines
    assert again.count() == sam_df.count()


def test_sharded_write_and_read_back(spark, tmp_path, sam_df):
    out = str(tmp_path / "out.sam.sharded")
    header = SamSource().read_header(FIXTURE)
    SamSink().write_sharded(sam_df.repartition(3), header, out)
    parts = sorted(Path(out).glob("part-*.sam"))
    assert parts, "no shards written"
    # each shard is a complete SAM (header present); dir reads back as one input
    for p in parts:
        assert p.read_text().startswith("@HD")
    again = SamSource().read(spark, out)
    assert again.count() == sam_df.count()


def test_interval_filter_matches_python_oracle(spark, sam_df):
    intervals = spark.createDataFrame(
        [("chr21", 5000, 9999), ("chr21", 20000, 22999)],
        "contig string, start long, end long",
    )
    got = SamSource().read(spark, FIXTURE, intervals=intervals)
    got_names = sorted(r["qname"] + "/" + str(r["flag"]) for r in got.collect())

    # single-threaded python oracle with the same overlap semantics
    expected = []
    for r in with_alignment_span(sam_df).collect():
        if r["flag"] & 0x4 and (r["rname"] is None or r["pos"] == 0):
            continue
        for c, s, e in [("chr21", 5000, 9999), ("chr21", 20000, 22999)]:
            if r["rname"] == c and r["pos"] <= e and r["end_pos"] >= s:
                expected.append(r["qname"] + "/" + str(r["flag"]))
                break
    assert got_names == sorted(expected)


def test_interval_filter_with_unplaced(spark, sam_df):
    intervals = spark.createDataFrame(
        [("chr21", 1, 1_000_135)], "contig string, start long, end long"
    )
    all_placed = SamSource().read(spark, FIXTURE, intervals=intervals)
    with_unplaced = SamSource().read(
        spark, FIXTURE, intervals=intervals, include_unplaced=True
    )
    n_unplaced = sam_df.filter("flag & 4 != 0 AND (rname IS NULL OR pos = 0)").count()
    assert with_unplaced.count() == all_placed.count() + n_unplaced


def test_mapped_only_rejected(spark):
    # reference: intervals==null && !unmapped is an error
    # (AbstractBinarySamSource.java:50-54) — our interval_filter mirrors it
    from disq_original_spark.operators.interval import interval_filter

    with pytest.raises(ValueError):
        interval_filter(None, None, include_unplaced=False)


def test_validation_stringency(spark, tmp_path):
    """Reference parity: STRICT fails, SILENT drops, LENIENT nulls
    (`HtsjdkReadsRddStorage.java:66,97-100`)."""
    import pytest
    from disq_original_spark.sources.sam import SamSource

    p = str(tmp_path / "bad.sam")
    with open(p, "w") as fh:
        fh.write("@HD\tVN:1.6\n")
        fh.write("r1\t0\tchr1\t10\t30\t4M\t*\t0\t0\tACGT\tFFFF\n")
        fh.write("this is not a sam record\n")
        fh.write("r2\t0\tchr1\t20\t30\t4M\t*\t0\t0\tACGT\tFFFF\n")
    src = SamSource()
    assert src.read(spark, p, stringency="lenient").count() == 3
    assert src.read(spark, p, stringency="silent").count() == 2
    with pytest.raises(Exception, match="malformed"):
        src.read(spark, p, stringency="strict").collect()


def test_duplicate_aux_tags_last_wins(spark, tmp_path):
    """Duplicate aux tags follow lenient semantics (last wins), not a
    DUPLICATED_MAP_KEY crash — resolved inside the parse expression, so the
    session's mapKeyDedupPolicy is left untouched for the caller's own
    queries."""
    p = tmp_path / "dup.sam"
    p.write_text(
        "@HD\tVN:1.6\n"
        "r1\t0\tchr1\t10\t30\t4M\t*\t0\t0\tACGT\tFFFF\tXA:Z:a\tXA:Z:b\n"
    )
    policy_before = spark.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    rows = SamSource().read(spark, str(p)).collect()
    assert rows[0]["attributes"]["XA"] == "Z:b"
    assert spark.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION") == policy_before


def test_lenient_malformed_row_roundtrips_full_column_count(spark, tmp_path):
    """A lenient-kept malformed record writes a full 11-column line with
    placeholder fields, never a shifted line."""
    p = tmp_path / "bad.sam"
    p.write_text(
        "@HD\tVN:1.6\n"
        "r1\t0\tchr1\tNOTANUMBER\t30\t4M\t*\t0\t0\tACGT\tFFFF\n"
    )
    df = SamSource().read(spark, str(p), stringency="lenient")
    from disq_original_spark.sources.sam import to_sam_line

    line = df.select(to_sam_line(df).alias("v")).collect()[0]["v"]
    assert len(line.split("\t")) == 11
    assert line.split("\t")[3] == "0"  # nulled pos round-trips as placeholder


# Short lines, numbers ``try_cast`` refuses or trims, duplicated tags,
# '*' placeholders, trailing tabs and short tags
_ADVERSARIAL = [
    "r1",
    "\t".join(["r10", "0", "chr1", "10", "30", "4M", "*", "0", "0", "ACGT"]),
    "\t".join(["r11", "0", "chr1", "10", "30", "4M", "*", "0", "0", "ACGT", "FFFF"]),
    "",
    "big\t4294967296\tchr1\t10\t30\t4M\t*\t0\t0\tACGT\tFFFF",
    "space\t 4\tchr1\t10\t30\t4M\t*\t0\t0\tACGT\tFFFF",
    "hex\t0x4\tchr1\t10\t30\t4M\t*\t0\t0\tACGT\tFFFF",
    "arabic\t0\tchr1\t\u0661\t30\t4M\t*\t0\t0\tACGT\tFFFF",
    "int32\t2147483647\tchr1\t-9223372036854775808\t2147483648\t4M\t*\t9223372036854775808\t-12\tA\tF",
    "dups\t0\tchr1\t10\t30\t4M\t*\t0\t0\tACGT\tFFFF\tXA:Z:a\tNM:i:1\tXA:Z:b\tNM:i:2",
    "stars\t4\t*\t0\t255\t*\t*\t0\t0\t*\t*",
    "trailing\t0\tchr1\t10\t30\t4M\t=\t15\t-20\tACGT\tFFFF\tNM:i:0\t\t",
    "short_tags\t0\tchr1\t10\t30\t4M\t*\t0\t0\tACGT\tFFFF\tX\tXY\tXY:\tXY:Z\tXY:Z:\u00e9",
    "only_tabs\t\t\t\t\t\t\t\t\t\t\t",
]


def _twins_sam(spark, path) -> list[str]:
    """The twins reads plus unplaced-unmapped ones, written by ``SamSink``
    to ``path``; returns the body lines."""
    import pandas as pd

    from disq_original_spark.sources.sam import READS_SCHEMA

    from .twins import frame, reads_header, reads_rows, sorted_reads, unplaced_reads

    reads = sorted_reads()
    rows = reads_rows(pd.concat([reads, unplaced_reads(reads, 6)]))
    SamSink().write(frame(spark, rows, READS_SCHEMA).coalesce(1), reads_header(), str(path))
    body = [line for line in Path(path).read_text().split("\n") if line and not line.startswith("@")]
    assert len(body) == len(rows)
    return body


def test_parse_sam_line_equals_parse_sam_lines(spark, tmp_path):
    """The line tasks' ``parse_sam_line`` gives the rows of the Spark SQL
    reference parse (``sam_reference.parse_sam_lines``) on the same lines,
    tag order included (compared as ``to_json`` of each row): the twins
    SAM and the adversarial lines."""
    from pyspark.sql import functions as F

    from disq_original_spark.sources.arrow_xfer import to_dataframe
    from disq_original_spark.sources.sam import READS_SCHEMA, parse_sam_line

    from .sam_reference import parse_sam_lines

    lines = _twins_sam(spark, tmp_path / "twins.sam") + _ADVERSARIAL

    def as_json(df) -> list[str]:
        return [r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()]

    native = parse_sam_lines(spark.createDataFrame([(v,) for v in lines], "value string"))
    chunks = [lines[i : i + 1000] for i in range(0, len(lines), 1000)]
    in_task = to_dataframe(spark, chunks, lambda chunk: (parse_sam_line(v) for v in chunk), READS_SCHEMA)
    want, got = as_json(native), as_json(in_task)
    assert len(got) == len(lines)
    diff = [(v, w, g) for v, w, g in zip(lines, want, got) if w != g]
    assert diff == [], diff[:3]


def test_stringency_applies_before_the_traversal(spark, tmp_path):
    """A 5-field line sits mid-file, outside the window: ``strict`` raises
    on it in a whole-file and in a region read, ``silent`` drops it and
    ``lenient`` keeps its row; in a region read both return the reads
    whose SQL span (``sam_reference.with_alignment_span``) overlaps the
    window."""
    from .sam_reference import with_alignment_span

    path = tmp_path / "bad.sam"
    _twins_sam(spark, path)
    lines = path.read_text().splitlines(keepends=True)
    mid = len(lines) // 2
    lines.insert(mid, "malformed\t0\t1\t100\t60\n")
    path.write_text("".join(lines))
    f = lines[mid + 1].split("\t")
    window = (f[2], int(f[3]) + 1, int(f[3]) + 5_000)
    iv = spark.createDataFrame([window], "contig string, start long, end long")

    def read(stringency, ivs=None):
        return SamSource().read(spark, str(path), intervals=ivs, stringency=stringency, split_size=64 * 1024)

    for ivs in (None, iv):
        with pytest.raises(Exception, match="malformed record: malformed\t0\t1\t100\t60"):
            read("strict", ivs).collect()
    lenient, silent = read("lenient"), read("silent")
    assert lenient.count() == silent.count() + 1 == sum(not line.startswith("@") for line in lines)
    assert lenient.filter("qname = 'malformed'").first()["flag"] == 0
    assert silent.filter("qname = 'malformed'").count() == 0
    spans = with_alignment_span(silent).collect()
    want = sorted(
        r["qname"] + "/" + str(r["flag"])
        for r in spans
        if r["rname"] == window[0] and r["pos"] <= window[2] and r["end_pos"] >= window[1]
        and not (r["flag"] & 4 and (r["rname"] is None or r["pos"] == 0))
    )
    assert want
    for stringency in ("lenient", "silent"):
        got = sorted(r["qname"] + "/" + str(r["flag"]) for r in read(stringency, iv).collect())
        assert got == want, stringency


def test_split_size_plans_tasks_and_leaves_the_session_alone(spark, tmp_path):
    """``split_size`` gives ceil(bytes / split) tasks and sets no session
    conf: ``spark.sql.files.maxPartitionBytes`` is what it was, before and
    after the read runs."""
    import math

    path = tmp_path / "twins.sam"
    body = _twins_sam(spark, path)
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    for split in (16 * 1024, 100_000):
        df = SamSource().read(spark, str(path), split_size=split)
        assert df.rdd.getNumPartitions() == math.ceil(path.stat().st_size / split)
        assert spark.conf.get(key) == before
        assert df.count() == len(body)
        assert spark.conf.get(key) == before
