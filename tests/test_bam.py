"""BAM source/sink: differential against the reference fixtures with the
granularity-1 SBI as exhaustive ground truth (the reference's own gold
standard, BamRecordGuesserCheckerTest)."""

from __future__ import annotations

from pathlib import Path

import pytest

from disq_original_spark.sources.bam import BamSink, BamSource, create_sbi
from disq_original_spark.sources.bam_codec import SbiIndex
from disq_original_spark.sources.headers import read_bam_header

RES = Path("/root/reference/src/test/resources")
BAM = str(RES / "1.bam")
BAM_SBI = str(RES / "1-with-splitting-index.bam")  # .sbi sits next to it
N_RECORDS = 4917  # from the granularity-1 SBI (ground truth)


@pytest.fixture(scope="module")
def bam_df(spark):
    return BamSource().read(spark, BAM, split_size=128 * 1024)


def test_count_via_guesser_matches_sbi_truth(bam_df):
    # 128 KB splits force multi-partition reads through the heuristic path
    assert bam_df.count() == N_RECORDS


def test_count_via_sbi_index(spark):
    df = BamSource().read(spark, BAM_SBI, split_size=128 * 1024, use_sbi=True)
    assert df.rdd.getNumPartitions() > 1
    assert df.count() == N_RECORDS


def test_sbi_and_guesser_paths_agree(spark, bam_df):
    via_sbi = BamSource().read(spark, BAM_SBI, split_size=40 * 1024, use_sbi=True)
    a = sorted(map(str, via_sbi.collect()))
    b = sorted(map(str, bam_df.collect()))
    assert a == b


def test_split_size_invariance(spark, bam_df):
    small = BamSource().read(spark, BAM, split_size=40 * 1024)
    assert sorted(map(str, small.collect())) == sorted(map(str, bam_df.collect()))


def test_file_order_preserved(spark):
    """Reading a coordinate-sorted BAM yields records in file order
    (reference README.md:139-153)."""
    df = BamSource().read(spark, BAM, split_size=128 * 1024)
    pos = [r["pos"] for r in df.collect() if r["rname"] == "1"]
    assert pos == sorted(pos)


def test_roundtrip(spark, tmp_path, bam_df):
    header, refs, _ = read_bam_header(BAM)
    out = str(tmp_path / "out.bam")
    BamSink().write(bam_df, header, out)
    again = BamSource().read(spark, out, split_size=128 * 1024)
    cols = ["qname", "flag", "rname", "pos", "mapq", "cigar", "rnext", "pnext", "tlen", "seq", "qual"]
    assert sorted(map(str, again.select(cols).collect())) == sorted(
        map(str, bam_df.select(cols).collect())
    )


def test_create_sbi_matches_reference_index(tmp_path, bam_df):
    import shutil

    tmp_bam = str(tmp_path / "copy.bam")
    shutil.copyfile(BAM, tmp_bam)
    out = create_sbi(tmp_bam, granularity=1)
    ours = SbiIndex.load(out)
    theirs = SbiIndex.load(BAM_SBI + ".sbi")
    assert ours.total_records == theirs.total_records == N_RECORDS
    assert ours.granularity == theirs.granularity == 1
    assert ours.offsets == theirs.offsets


def test_interval_filter(spark, bam_df):
    intervals = spark.createDataFrame(
        [("1", 24_795_000, 24_800_000)], "contig string, start long, end long"
    )
    got = BamSource().read(spark, BAM, intervals=intervals, split_size=128 * 1024)
    # python oracle over the full read
    from .sam_reference import with_alignment_span

    expected = 0
    for r in with_alignment_span(bam_df).collect():
        if r["flag"] & 0x4 and (r["rname"] is None or r["pos"] == 0):
            continue
        if r["rname"] == "1" and r["pos"] <= 24_800_000 and r["end_pos"] >= 24_795_000:
            expected += 1
    assert got.count() == expected
    assert expected > 0


def test_python_datasource_format_bam(spark, bam_df):
    from disq_original_spark.sources.datasource import register_datasources

    register_datasources(spark)
    df = spark.read.format("bam").option("splitSize", 40 * 1024).load(BAM)
    assert df.count() == N_RECORDS
    assert df.schema == bam_df.schema
    # same records in the same file order as the RDD facade
    assert [r.qname for r in df.collect()] == [r.qname for r in bam_df.collect()]


def test_python_datasource_sbi_path(spark):
    from disq_original_spark.sources.datasource import register_datasources

    register_datasources(spark)
    df = spark.read.format("bam").option("splitSize", 40 * 1024).load(BAM_SBI)
    assert df.count() == N_RECORDS


def test_bam_sharded_roundtrip(spark, bam_df, tmp_path):
    from disq_original_spark.sources.bam import BamSink, BamSource
    from disq_original_spark.sources.headers import read_bam_header

    header, _refs, _ = read_bam_header(BAM)
    out = str(tmp_path / "out.bam.sharded")
    BamSink().write_sharded(bam_df.repartition(3), header, out)
    import os

    parts = sorted(os.listdir(out))
    assert all(p.endswith(".bam") for p in parts) and len(parts) >= 1
    back = BamSource().read(spark, out)
    assert back.count() == N_RECORDS
    key = lambda r: (r.qname, r.flag, r.pos)
    assert sorted(map(key, back.collect())) == sorted(map(key, bam_df.collect()))


def _flat_and_truth():
    """Decompress 1.bam fully; map granularity-1 SBI voffsets to flat
    uncompressed offsets (the reference's BamRecordGuesserChecker ground
    truth, `bam/BamRecordGuesserChecker.java:38-140`)."""
    from disq_original_spark.sources.bgzf import BgzfReader, enumerate_blocks
    from disq_original_spark.sources.bam_codec import SbiIndex
    from disq_original_spark.sources.headers import read_bam_header

    _, refs, first_v = read_bam_header(BAM_SBI)
    idx = SbiIndex.load(BAM_SBI + ".sbi")
    with open(BAM_SBI, "rb") as fh:
        blocks = list(enumerate_blocks(fh))
        reader = BgzfReader(fh)
        reader.seek_virtual(0)
        flat = reader.read(1 << 26)
    cum = {}
    off = 0
    for b in blocks:
        cum[b.pos] = off
        off += b.u_size
    truth = {cum[v >> 16] + (v & 0xFFFF) for v in idx.offsets[:-1]}
    first_flat = cum[first_v >> 16] + (first_v & 0xFFFF)
    return flat, truth, first_flat, len(refs)


def test_guesser_exhaustive_zero_false_pos_neg():
    """Every uncompressed offset: guesser verdict == SBI ground truth
    (reference asserts exactly this, `BamRecordGuesserCheckerTest.java:17-24`)."""
    from disq_original_spark.sources.bam_codec import BamRecordGuesser

    flat, truth, first_flat, n_ref = _flat_and_truth()
    g = BamRecordGuesser(n_ref)
    fp = fn = 0
    for o in range(first_flat, len(flat)):
        got = g.is_record_start(flat, o, at_eof=True)
        exp = o in truth
        fp += got and not exp
        fn += exp and not got
    assert fp == 0 and fn == 0


def test_guesser_checker_detects_doctored_truth():
    """A doctored ground truth must surface as FP+FN — proves the checker can
    detect both error classes (reference doctored-index test,
    `BamRecordGuesserCheckerTest.java:26-71`)."""
    from disq_original_spark.sources.bam_codec import BamRecordGuesser

    flat, truth, first_flat, n_ref = _flat_and_truth()
    g = BamRecordGuesser(n_ref)
    real = sorted(truth)[5]
    doctored = (truth - {real}) | {real + 1}
    fp = fn = 0
    for o in (real, real + 1):
        got = g.is_record_start(flat, o, at_eof=True)
        exp = o in doctored
        fp += got and not exp
        fn += exp and not got
    assert fp == 1 and fn == 1


@pytest.fixture(scope="module")
def bam_with_bai(tmp_path_factory):
    import shutil
    from disq_original_spark.sources.bai import create_bai

    d = tmp_path_factory.mktemp("bai")
    p = str(d / "i.bam")
    shutil.copyfile(BAM, p)
    create_bai(p)
    return p


def test_bai_roundtrip_parses(bam_with_bai):
    from disq_original_spark.sources.bai import parse_bai

    idx = parse_bai(bam_with_bai + ".bai")
    assert sum(len(b) for b in idx.bins) > 0
    assert idx.n_no_coor == 0  # 1.bam has no unplaced-unmapped tail


def test_bai_interval_pushdown_matches_full_scan(spark, bam_with_bai):
    # 1.bam's reads sit on contig "1" around 24.8 Mb
    intervals = spark.createDataFrame(
        [("1", 24_800_000, 24_860_000)], "contig string, start long, end long"
    )
    with_bai = BamSource().read(spark, bam_with_bai, intervals=intervals)
    no_bai = BamSource().read(spark, BAM, intervals=intervals)
    key = lambda r: (r.qname, r.flag, r.pos)
    a, b = sorted(map(key, with_bai.collect())), sorted(map(key, no_bai.collect()))
    assert a == b and len(a) > 0


def test_bai_ranges_prune_bytes(bam_with_bai):
    import os
    from disq_original_spark.sources.fsio import get_fs
    from disq_original_spark.sources.headers import read_bam_header
    from disq_original_spark.sources.tabix import index_chunks, merge_ranges

    names = [r[0] for r in read_bam_header(bam_with_bai)[1]]
    flen = os.path.getsize(bam_with_bai)

    def ranges_for(ivs):
        return merge_ranges(index_chunks(get_fs(bam_with_bai), bam_with_bai, flen, ivs, names, (".bai",)))

    ranges = ranges_for([(names[0], 24_800_000, 24_810_000)])
    spanned = sum((v >> 16) - (u >> 16) for u, v in ranges)
    assert 0 < spanned < os.path.getsize(bam_with_bai) // 2
    # an interval over an empty region prunes everything
    assert ranges_for([(names[0], 1, 300)]) == []


def test_datasource_interval_option(spark, bam_with_bai):
    from disq_original_spark.sources.datasource import register_datasources

    register_datasources(spark)
    df = (
        spark.read.format("bam")
        .option("intervals", '[["1", 24800000, 24860000]]')
        .load(bam_with_bai)
    )
    # index pushdown, then each task's overlap test: the overlapping reads
    full = BamSource().read(spark, bam_with_bai)
    assert 0 < df.count() < full.count()


def test_chunk_reader_trim_preserves_records(monkeypatch):
    """The buffered chunk reader trims its consumed prefix at block
    granularity; force a tiny trim threshold so one pass over 1.bam trims
    many times, and check against an independent whole-file parse."""
    import struct
    import zlib

    import disq_original_spark.sources.bam as bm
    from disq_original_spark.sources.bam_codec import parse_record
    from disq_original_spark.sources.headers import read_bam_header

    path = "/root/reference/src/test/resources/1.bam"
    header, refs, fv = read_bam_header(path)
    ref_names = [r[0] for r in refs]

    # independent oracle: inflate everything, walk records from the header end
    raw = open(path, "rb").read()
    parts, buf = [], raw
    while buf:
        obj = zlib.decompressobj(31)
        parts.append(obj.decompress(buf))
        buf = obj.unused_data
    data = b"".join(parts)
    l_text = struct.unpack("<i", data[4:8])[0]
    p = 8 + l_text
    (n_ref,) = struct.unpack("<i", data[p : p + 4])
    p += 4
    for _ in range(n_ref):
        (ln,) = struct.unpack("<i", data[p : p + 4])
        p += 4 + ln + 4
    expected = []
    off = p
    while True:
        parsed = parse_record(data, off, ref_names)
        if parsed is None:
            break
        expected.append(parsed[0]["qname"])
        off = parsed[1]

    monkeypatch.setattr(bm, "_TRIM_BYTES", 1 << 15)
    got = [
        r["qname"]
        for r in bm._read_records_in_chunk(path, fv, 1 << 62, ref_names)
    ]
    assert len(got) == len(expected) > 1000
    assert got == expected


def _mini_bam(tmp_path, tail: bytes) -> str:
    """Header block + one valid record + ``tail`` bytes, BGZF-framed."""
    import struct

    from disq_original_spark.sources.bam_codec import encode_bam_header, encode_record
    from disq_original_spark.sources.bgzf import EMPTY_GZIP_BLOCK, compress_block

    rec = encode_record(
        {
            "qname": "r1",
            "flag": 0,
            "rname": "chr1",
            "pos": 10,
            "mapq": 30,
            "cigar": "4M",
            "rnext": None,
            "pnext": 0,
            "tlen": 0,
            "seq": "ACGT",
            "qual": "IIII",
            "attributes": {},
        },
        {"chr1": 0},
    )
    hdr = encode_bam_header("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000\n", [("chr1", 1000)])
    path = str(tmp_path / "mini.bam")
    with open(path, "wb") as fh:
        fh.write(compress_block(hdr))
        fh.write(compress_block(rec + tail))
        fh.write(EMPTY_GZIP_BLOCK)
    return path


def test_corrupt_record_raises(tmp_path):
    import struct

    import pytest

    from disq_original_spark.sources.bam import _read_records_in_chunk
    from disq_original_spark.sources.headers import read_bam_header

    path = _mini_bam(tmp_path, struct.pack("<i", -7) + b"junkjunk")
    _, refs, fv = read_bam_header(path)
    with pytest.raises(ValueError, match="corrupt"):
        list(_read_records_in_chunk(path, fv, 1 << 62, [r[0] for r in refs]))


def test_truncated_record_raises(tmp_path):
    import struct

    import pytest

    from disq_original_spark.sources.bam import _read_records_in_chunk
    from disq_original_spark.sources.headers import read_bam_header

    # a record header claiming 500 more bytes than the file holds
    path = _mini_bam(tmp_path, struct.pack("<i", 500) + b"short")
    _, refs, fv = read_bam_header(path)
    with pytest.raises(ValueError, match="truncated"):
        list(_read_records_in_chunk(path, fv, 1 << 62, [r[0] for r in refs]))


def test_clean_mini_bam_reads_exactly(tmp_path):
    from disq_original_spark.sources.bam import _read_records_in_chunk
    from disq_original_spark.sources.headers import read_bam_header

    path = _mini_bam(tmp_path, b"")
    _, refs, fv = read_bam_header(path)
    rows = list(_read_records_in_chunk(path, fv, 1 << 62, [r[0] for r in refs]))
    assert len(rows) == 1 and rows[0]["qname"] == "r1"


def test_directory_read_skips_index_sidecars(spark, tmp_path):
    """A directory holding sample.bam + sample.bam.bai must read only the
    BAM (the .bai is an index sidecar, not an input)."""
    import shutil

    shutil.copy("/root/reference/src/test/resources/1.bam", tmp_path / "1.bam")
    (tmp_path / "1.bam.bai").write_bytes(b"BAI\x01junk")
    reads = BamSource().read(spark, str(tmp_path))
    assert reads.count() == 4917


def test_sink_handles_null_integer_columns(spark, tmp_path):
    """Null ints must arrive at the writer as None (not NaN-promoted
    floats): a row with tlen=NULL round-trips as 0 via the encoder's
    `or 0` default."""
    from disq_original_spark.sources.bam import BamSink, READS_SCHEMA
    from disq_original_spark.sources.headers import SamHeader

    df = spark.createDataFrame(
        [
            ("r1", 0, "chr1", 10, 30, "4M", None, 0, None, "ACGT", "IIII", {}),
            ("r2", 0, "chr1", 20, 30, "4M", None, 0, 5, "ACGT", "IIII", {}),
        ],
        READS_SCHEMA,
    )
    header = SamHeader.parse("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000\n")
    out = str(tmp_path / "nulls.bam")
    BamSink().write(df, header, out)
    back = {r["qname"]: r["tlen"] for r in BamSource().read(spark, out).collect()}
    assert back == {"r1": 0, "r2": 5}


def test_directory_read_is_o1_driver(spark, tmp_path, monkeypatch):
    """A sharded directory read does exactly ONE driver-side header read
    (same-header contract, HtsjdkReadsRddStorage.java:150-156); non-first
    files resolve their header end lazily inside tasks.  Count parity with
    the unsharded input is unchanged."""
    import disq_original_spark.sources.bam as bm

    src = BamSource()
    df = src.read(spark, BAM)
    n = df.count()
    header = src.read_header(BAM)
    out = str(tmp_path / "sharded")
    BamSink().write_sharded(df.repartition(6), header, out)

    calls: list[str] = []
    real = bm.read_bam_header

    def counting(path):
        calls.append(str(path))
        return real(path)

    monkeypatch.setattr(bm, "read_bam_header", counting)
    got = BamSource().read(spark, out)
    assert got.count() == n
    assert len(calls) == 1  # one header read on the driver, not O(files)


def test_file_metadata_job_path_matches_serial(spark, tmp_path):
    """Above the threshold, per-file metadata comes from a Spark job; the
    result must match the serial driver loop exactly."""
    from disq_original_spark.sources.bam import _collect_file_metadata, _expand_files
    from disq_original_spark.sources.fsio import get_fs

    src = BamSource()
    df = src.read(spark, BAM)
    header = src.read_header(BAM)
    out = str(tmp_path / "sharded")
    BamSink().write_sharded(df.repartition(5), header, out)

    fs = get_fs(out)
    files = _expand_files(out, fs)
    assert len(files) >= 2
    serial = _collect_file_metadata(spark, files, fs, True, None, job_threshold=10**9)
    via_job = _collect_file_metadata(spark, files, fs, True, None, job_threshold=1)
    assert via_job == serial


def test_truncated_bam_missing_terminator_warns(tmp_path):
    """A BAM cut at a BGZF block boundary (EOF terminator removed) reads
    cleanly but must WARN — a silent 'complete' read would hide data loss
    (htsjdk warns on a missing BGZF terminator)."""
    import warnings

    import disq_original_spark.sources.bam as bm
    from disq_original_spark.sources.bgzf import EMPTY_GZIP_BLOCK

    data = Path(BAM).read_bytes()
    assert data.endswith(EMPTY_GZIP_BLOCK)
    truncated = tmp_path / "trunc.bam"
    truncated.write_bytes(data[: -len(EMPTY_GZIP_BLOCK)])

    _, refs, fv = read_bam_header(str(truncated))
    ref_names = [r[0] for r in refs]
    with pytest.warns(UserWarning, match="no BGZF EOF terminator"):
        rows = list(
            bm._read_records_in_chunk(str(truncated), fv, 1 << 62, ref_names)
        )
    assert len(rows) == N_RECORDS  # records themselves are intact
    # the intact file does NOT warn
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        rows2 = list(bm._read_records_in_chunk(BAM, fv, 1 << 62, ref_names))
    assert len(rows2) == N_RECORDS


def test_queryname_pair_integrity(spark, tmp_path):
    """Queryname-sorted reads: paired reads (same qname) never straddle
    partition boundaries — the guarantee the reference documents
    (README.md:155-159) but leaves emergent; here record ownership switches
    to qname groups, so any split tiling keeps groups whole AND yields every
    record exactly once."""
    import re

    from pyspark.sql import functions as F

    from disq_original_spark.sources.headers import SamHeader

    src = BamSource()
    df = src.read(spark, BAM)
    header = src.read_header(BAM)
    text = header.text
    if "SO:" in text:
        text = re.sub(r"SO:\S+", "SO:queryname", text, count=1)
    elif "@HD" not in text:
        text = "@HD\tVN:1.6\tSO:queryname\n" + text
    qheader = SamHeader(text=text, contigs=header.contigs)
    assert qheader.sort_order == "queryname"

    out = str(tmp_path / "qs.bam")
    BamSink().write(
        df.repartition(1).sortWithinPartitions("qname"), qheader, out
    )

    back = src.read(spark, out, split_size=96 * 1024)
    assert back.rdd.getNumPartitions() > 3  # splits actually happen
    tagged = back.withColumn("pid", F.spark_partition_id())
    per_group = tagged.groupBy("qname").agg(
        F.countDistinct("pid").alias("n_pids"), F.count(F.lit(1)).alias("n")
    )
    straddlers = per_group.filter("n_pids > 1").count()
    assert straddlers == 0  # no qname group crosses a partition boundary
    assert tagged.count() == N_RECORDS  # exactly-once under group ownership
    multi = per_group.filter("n > 1").count()
    assert multi > 0  # the fixture really does contain read groups/pairs

    # column pruning under queryname grouping: 'qname' is decoded
    # internally for group ownership even when not requested, and the
    # pruned values match the full decode
    pruned = src.read(spark, out, split_size=96 * 1024, columns=["flag", "pos"])
    assert pruned.columns == ["flag", "pos"]
    assert sorted(map(str, pruned.collect())) == sorted(
        map(str, back.select("flag", "pos").collect())
    )


# ---------------------------------------------------- write-time index creation


def test_write_time_bai_matches_posthoc_build(spark, tmp_path, bam_df):
    """Executors emit part-relative index metadata during the part writes;
    the driver rebases at merge time.  The result must be byte-identical to
    a sequential post-hoc build over the merged file."""
    from disq_original_spark.sources.bai import create_bai

    header, _, _ = read_bam_header(BAM)
    out = str(tmp_path / "indexed.bam")
    assert bam_df.rdd.getNumPartitions() > 1  # multi-part merge is exercised
    BamSink().write(bam_df, header, out, write_sbi=True, write_bai=True, sbi_granularity=256)
    written = Path(out + ".bai").read_bytes()
    create_bai(out)  # overwrites with the sequential driver-side build
    assert Path(out + ".bai").read_bytes() == written


def test_write_time_sbi_single_part_matches_posthoc(spark, tmp_path, bam_df):
    """With one part there is no per-part granularity restart, so the
    write-time .sbi must equal create_sbi byte for byte (incl. the
    end-of-records sentinel and file length)."""
    header, _, _ = read_bam_header(BAM)
    out = str(tmp_path / "one.bam")
    BamSink().write(bam_df.coalesce(1), header, out, write_sbi=True, sbi_granularity=512)
    written = Path(out + ".sbi").read_bytes()
    create_sbi(out, granularity=512)
    assert Path(out + ".sbi").read_bytes() == written


def test_write_time_sbi_drives_read(spark, tmp_path, bam_df):
    header, _, _ = read_bam_header(BAM)
    out = str(tmp_path / "multi.bam")
    BamSink().write(bam_df, header, out, write_sbi=True, sbi_granularity=64)
    idx = SbiIndex.load(out + ".sbi")
    assert idx.total_records == N_RECORDS
    assert list(idx.offsets) == sorted(idx.offsets)
    again = BamSource().read(spark, out, split_size=40 * 1024, use_sbi=True)
    assert again.rdd.getNumPartitions() > 1
    assert again.count() == N_RECORDS


def test_write_time_bai_interval_pushdown(spark, tmp_path, bam_df):
    header, _, _ = read_bam_header(BAM)
    out = str(tmp_path / "rt.bam")
    BamSink().write(bam_df, header, out, write_bai=True)
    intervals = spark.createDataFrame(
        [("1", 24_800_000, 24_860_000)], "contig string, start long, end long"
    )
    via_written = BamSource().read(spark, out, intervals=intervals)
    no_index = BamSource().read(spark, BAM, intervals=intervals)  # full scan + residual
    key = lambda r: (r.qname, r.flag, r.pos)
    a = sorted(map(key, via_written.collect()))
    b = sorted(map(key, no_index.collect()))
    assert a == b and len(a) > 0


def test_storage_write_index_option(spark, tmp_path, bam_df):
    from disq_original_spark.storage import ReadsStorage

    header, _, _ = read_bam_header(BAM)
    out = str(tmp_path / "st.bam")
    ReadsStorage(spark).write(bam_df, out, header, write_index=True)
    assert Path(out + ".sbi").exists() and Path(out + ".bai").exists()
    with pytest.raises(ValueError):
        ReadsStorage(spark).write(bam_df, str(tmp_path / "x.sam"), header, write_index=True)


def test_sharded_bam_per_shard_indexes(spark, tmp_path, bam_df):
    """Sharded output with write_index: every shard gets .sbi + .bai built
    executor-side (complete files — offsets rebase locally, no driver
    step), each byte-identical to a sequential post-hoc build, and the
    directory read picks them up for chunking and interval pushdown."""
    from disq_original_spark.sources.bai import create_bai

    header, _, _ = read_bam_header(BAM)
    out = str(tmp_path / "dir.bam.sharded")
    # write_index requires position-sorted rows within each shard — the
    # samtools-index precondition; repartition alone would interleave
    sharded_df = bam_df.repartition(3).sortWithinPartitions("rname", "pos")
    BamSink().write_sharded(sharded_df, header, out, write_index=True)
    shards = sorted(Path(out).glob("part-*.bam"))
    assert len(shards) == 3
    total = 0
    for s in shards:
        bai = Path(str(s) + ".bai").read_bytes()
        sbi = Path(str(s) + ".sbi").read_bytes()
        create_bai(str(s))
        create_sbi(str(s), granularity=4096)
        assert Path(str(s) + ".bai").read_bytes() == bai
        assert Path(str(s) + ".sbi").read_bytes() == sbi
        total += SbiIndex.load(str(s) + ".sbi").total_records
    assert total == N_RECORDS
    # directory interval read through the per-shard .bai == residual full scan
    intervals = spark.createDataFrame(
        [("1", 24_800_000, 24_860_000)], "contig string, start long, end long"
    )
    via_idx = BamSource().read(spark, out, intervals=intervals)
    no_index = BamSource().read(spark, BAM, intervals=intervals)
    key = lambda r: (r.qname, r.flag, r.pos)
    assert sorted(map(key, via_idx.collect())) == sorted(map(key, no_index.collect()))


def test_column_pruned_read_matches_full_decode(spark):
    """BamSource.read(columns=...) prunes the DECODE (the custom-source
    analog of parquet ReadSchema): values must equal the full decode's
    subset on every pattern — plain scan, interval pushdown (internal
    span columns decoded transparently and dropped), and unknown columns
    fail loud."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from disq_original_spark.sources.bam import BamSource

    path = f"{RES}/1.bam"
    full = BamSource().read(spark, path, split_size=300 * 1024)
    for cols in (["flag", "rname", "mapq"], ["qname", "flag", "seq", "qual"],
                 ["attributes", "rname"]):
        pruned = BamSource().read(spark, path, split_size=300 * 1024, columns=cols)
        want = [c for c in full.columns if c in set(cols)]
        assert pruned.columns == want
        a = sorted(map(str, full.select(*want).collect()))
        b = sorted(map(str, pruned.collect()))
        assert a == b, cols

    iv = spark.createDataFrame(
        [("chr1", 10_080_000, 10_085_000)], "contig string, start long, end long"
    )
    sharded = f"{RES}/HiSeq.1mb.1RG.2k_lines.alternate.recalibrated.DIQ.sharded.bam"
    pruned_iv = BamSource().read(spark, sharded, intervals=iv, columns=["rname", "pos"])
    full_iv = BamSource().read(spark, sharded, intervals=iv)
    assert pruned_iv.columns == ["rname", "pos"]
    assert "seq" not in pruned_iv.columns and "attributes" not in pruned_iv.columns
    assert sorted(map(str, pruned_iv.collect())) == sorted(
        map(str, full_iv.select("rname", "pos").collect())
    )
    # decode really is pruned, not just projected: the decoder's row
    # dicts themselves must omit unrequested keys (a regression that
    # fully decodes and projects later would pass every value check)
    from disq_original_spark.sources.bam import records_for_split
    from disq_original_spark.sources.headers import read_bam_header

    _hdr, refs, fv = read_bam_header(str(path))
    row = next(iter(records_for_split(
        str(path), 0, 1 << 40, [r[0] for r in refs], len(refs), fv,
        None, None, fields=frozenset({"flag"}),
    )))
    assert set(row) == {"flag"}

    with _pytest.raises(ValueError, match="unknown reads columns"):
        BamSource().read(spark, path, columns=["flag", "nope"])


def test_datasource_columns_option(spark):
    """format('bam').option('columns', ...) prunes schema AND decode, and
    value-matches the full read's subset; the CRAM twin needs no
    reference when seq is pruned."""
    from disq_original_spark.sources.datasource import register_datasources

    register_datasources(spark)
    full = spark.read.format("bam").load(str(RES / "1.bam"))
    pruned = (
        spark.read.format("bam")
        .option("columns", "flag, rname, mapq")
        .load(str(RES / "1.bam"))
    )
    assert pruned.columns == ["flag", "rname", "mapq"]
    assert sorted(map(str, pruned.collect())) == sorted(
        map(str, full.select("flag", "rname", "mapq").collect())
    )

    cram_pruned = (
        spark.read.format("cram")
        .option("columns", "flag,rname,pos")
        .load(str(RES / "valid.cram"))
    )
    cram_full = (
        spark.read.format("cram")
        .option("reference", str(RES / "valid.fasta"))
        .load(str(RES / "valid.cram"))
    )
    assert cram_pruned.columns == ["flag", "rname", "pos"]
    assert sorted(map(str, cram_pruned.collect())) == sorted(
        map(str, cram_full.select("flag", "rname", "pos").collect())
    )


def test_datasource_columns_with_groupbyqname(spark, tmp_path):
    """A queryname-sorted BAM (qname group ownership, from its header) read
    with a columns option that OMITS qname must still decode the name
    internally for group ownership (and not leak it into the output) —
    the facade-level twin of BamSource.read's guard."""
    from disq_original_spark.sources.datasource import register_datasources

    from .twins import write_qname_sorted_bam

    path = str(tmp_path / "q.bam")
    write_qname_sorted_bam(spark, path)
    register_datasources(spark)
    base = spark.read.format("bam").option("splitSize", 16 * 1024)
    full = base.load(path)
    pruned = base.option("columns", "flag, rname").load(path)
    assert pruned.columns == ["flag", "rname"]
    assert sorted(map(str, pruned.collect())) == sorted(
        map(str, full.select("flag", "rname").collect())
    )
