"""VCF source/sink differential tests vs the reference fixtures
(/root/reference/src/test/resources/, read-only)."""

from __future__ import annotations

import gzip
from pathlib import Path

import pytest

from disq_original_spark.sources.bgzf import BgzfReader, is_bgzf
from disq_original_spark.sources.vcf import VcfSink, VcfSource

RES = Path("/root/reference/src/test/resources")
HISEQ = str(RES / "HiSeq.10000.vcf.bgz")
TEST_VCF = str(RES / "test.vcf")


def _oracle_lines(path: str) -> list[str]:
    raw = gzip.open(path, "rb").read() if path.endswith(("gz", "bgz")) else Path(path).read_bytes()
    # split strictly on \n — str.splitlines() also splits on \x85 etc.,
    # which can appear inside VCF data fields
    return [
        line
        for line in raw.decode().split("\n")
        if line and not line.startswith("#")
    ]


def test_hiseq_count_and_fields(spark):
    df = VcfSource().read(spark, HISEQ, split_size=128 * 1024)
    oracle = _oracle_lines(HISEQ)
    assert df.count() == len(oracle) == 9965
    # partitioning golden fact: 4 partitions at 128 KB splits
    assert df.rdd.getNumPartitions() == 4
    # spot-check fields against the text
    rows = df.orderBy("pos").limit(5).collect()
    expected = sorted((line.split("\t") for line in oracle), key=lambda f: int(f[1]))[:5]
    for row, f in zip(rows, expected):
        assert row["contig"] == f[0]
        assert row["pos"] == int(f[1])
        assert row["ref"] == f[3]
        assert (row["id"] if row["id"] is not None else ".") == f[2]


def test_three_encodings_agree(spark):
    """test.vcf / test.vcf.gz / test.vcf.bgz must parse identically
    (the reference's format-matrix strategy, HtsjdkVariantsRddTest)."""
    dfs = {
        ext: VcfSource().read(spark, str(RES / f"test.vcf{ext}"))
        for ext in ("", ".gz", ".bgz")
    }
    base = sorted(map(str, dfs[""].collect()))
    for ext in (".gz", ".bgz"):
        assert sorted(map(str, dfs[ext].collect())) == base, f"mismatch for {ext}"
    assert dfs[""].count() == len(_oracle_lines(TEST_VCF))


def test_genotypes_parsed(spark):
    df = VcfSource().read(spark, TEST_VCF)
    row = df.filter("pos = 14370") .collect()
    if not row:  # fixture content differs; fall back to any row with genotypes
        row = df.limit(1).collect()
    gts = row[0]["genotypes"]
    assert len(gts) >= 1
    assert gts[0]["sample"]
    assert gts[0]["gt"] is not None


def test_interval_filter_matches_oracle(spark):
    intervals = spark.createDataFrame(
        [("chr1", 2_700_000, 2_800_000)], "contig string, start long, end long"
    )
    df = VcfSource().read(spark, HISEQ, intervals=intervals, split_size=128 * 1024)
    oracle = [
        f
        for f in (line.split("\t") for line in _oracle_lines(HISEQ))
        if f[0] == "chr1" and int(f[1]) + len(f[3]) - 1 >= 2_700_000 and int(f[1]) <= 2_800_000
    ]
    assert df.count() == len(oracle)


def test_roundtrip_plain(spark, tmp_path):
    src = VcfSource()
    df = src.read(spark, TEST_VCF)
    header = src.read_header(TEST_VCF)
    out = str(tmp_path / "out.vcf")
    VcfSink().write(df, header, out)
    text = Path(out).read_text()
    assert text.startswith("##")
    again = src.read(spark, out)
    assert sorted(map(str, again.collect())) == sorted(map(str, df.collect()))


def test_roundtrip_bgzf(spark, tmp_path):
    src = VcfSource()
    df = src.read(spark, HISEQ, split_size=128 * 1024)
    header = src.read_header(HISEQ)
    out = str(tmp_path / "out.vcf.bgz")
    VcfSink().write(df.repartition(3), header, out, sample_names=[])
    with open(out, "rb") as fh:
        assert is_bgzf(fh)
        # valid BGZF end-to-end: decompresses fully and ends with terminator
        data = BgzfReader(fh).read(1 << 30)
    assert data.decode().startswith("##")
    again = src.read(spark, out)
    assert again.count() == df.count()
    # semantic equality on core columns
    cols = ["contig", "pos", "id", "ref", "alts", "qual", "filters"]
    assert sorted(map(str, again.select(cols).collect())) == sorted(
        map(str, df.select(cols).collect())
    )


def test_tabix_split_pruning_partition_counts(spark):
    """BASELINE.md row: HiSeq.10000.vcf.bgz at 128 KB splits -> 4 partitions;
    with interval chr1:2,700,000-2,800,000 the tabix index prunes to 1."""
    import os

    from disq_original_spark.sources.fsio import get_fs
    from disq_original_spark.sources.tabix import index_chunks, merge_ranges
    from disq_original_spark.sources.tribble import split_tasks
    from disq_original_spark.sources.vcf import _bgzf_line_plan

    full, _task_lines = _bgzf_line_plan(spark, HISEQ, 128 * 1024)
    assert len(full) == 4
    chunks = index_chunks(
        get_fs(HISEQ), HISEQ, os.path.getsize(HISEQ), [("chr1", 2_700_000, 2_800_000)], sidecars=(".tbi",)
    )
    ranges = merge_ranges([(u >> 16, (v >> 16) + 1) for u, v in chunks])

    # splits no index range reaches get no task
    tasks = split_tasks([(HISEQ, os.path.getsize(HISEQ), ranges)], 128 * 1024)
    assert len(tasks) == 1


def test_tabix_pruned_read_matches_filtered_full_read(spark):
    intervals = spark.createDataFrame(
        [("chr1", 2_700_000, 2_800_000)], "contig string, start long, end long"
    )
    pruned = VcfSource().read(spark, HISEQ, intervals=intervals).collect()
    full = VcfSource().read(spark, HISEQ)
    from disq_original_spark.sources.vcf import variant_end
    from disq_original_spark.operators.interval import interval_filter
    import pyspark.sql.functions as F

    spanned = full.withColumn("end_", variant_end(F.col("info"), F.col("pos"), F.col("ref")))
    expected = (
        interval_filter(
            spanned.withColumnRenamed("pos", "start").withColumnRenamed("end_", "end"),
            intervals,
        )
        .withColumnRenamed("start", "pos")
        .select(*[c for c in full.columns])
        .collect()
    )
    key = lambda r: (r.contig, r.pos, r.ref)
    assert sorted(map(key, pruned)) == sorted(map(key, expected))
    assert len(pruned) > 0


def test_vcf_sharded_roundtrip(spark, tmp_path):
    from disq_original_spark.sources.vcf import VcfSink, VcfSource
    from disq_original_spark.sources.headers import read_vcf_header_text

    src = VcfSource()
    df = src.read(spark, TEST_VCF)
    hdr = read_vcf_header_text(TEST_VCF)
    out = str(tmp_path / "out.vcf.sharded")
    VcfSink().write_sharded(df.repartition(2), hdr, out)
    back = src.read(spark, out)
    assert back.count() == df.count()


def test_vcf_sharded_bgzf_roundtrip(spark, tmp_path):
    from disq_original_spark.sources.vcf import VcfSink, VcfSource
    from disq_original_spark.sources.headers import read_vcf_header_text

    src = VcfSource()
    df = src.read(spark, TEST_VCF)
    hdr = read_vcf_header_text(TEST_VCF)
    out = str(tmp_path / "out.vcf.bgz.sharded")
    VcfSink().write_sharded(df.repartition(2), hdr, out)
    import os

    assert all(p.endswith(".vcf.bgz") for p in os.listdir(out))
    back = src.read(spark, out)
    assert back.count() == df.count()
    key = lambda r: (r.contig, r.pos, r.ref)
    assert sorted(map(key, back.collect())) == sorted(map(key, df.collect()))


def test_vcf_directory_compression_mismatch_fails_fast(spark, tmp_path):
    """A directory mixing BGZF and plain-text shards must fail fast with the
    offending file named — never feed plain text to the BGZF range reader
    (or vice versa) and emit garbage rows."""
    import os
    import shutil

    from disq_original_spark.sources.headers import read_vcf_header_text
    from disq_original_spark.sources.vcf import VcfSink, VcfSource

    src = VcfSource()
    df = src.read(spark, TEST_VCF)
    hdr = read_vcf_header_text(TEST_VCF)
    bgz = str(tmp_path / "out.vcf.bgz.sharded")
    VcfSink().write_sharded(df.repartition(2), hdr, bgz)
    plain = str(tmp_path / "plain.vcf.sharded")
    VcfSink().write_sharded(df.repartition(1), hdr, plain)
    plain_shard = next(p for p in sorted(os.listdir(plain)) if p.endswith(".vcf"))

    # plain shard inside a BGZF-sniffed directory (sorts after the shards)
    shutil.copy(os.path.join(plain, plain_shard), os.path.join(bgz, "zz-mixed.vcf"))
    with pytest.raises(Exception, match="compression-homogeneous"):
        src.read(spark, bgz).count()

    # BGZF shard inside a plain-sniffed directory (wrapper range-reader path)
    bgz_shard = next(p for p in sorted(os.listdir(bgz)) if p.endswith(".vcf.bgz"))
    shutil.copy(os.path.join(bgz, bgz_shard), os.path.join(plain, "zz-mixed.vcf"))
    with pytest.raises(Exception, match="compression-homogeneous"):
        src.read(spark, plain, split_size=1024).count()


# ---------------------------------------------------------------- tribble .idx


@pytest.fixture(scope="module")
def plain_hiseq(tmp_path_factory):
    """HiSeq fixture decompressed to a plain-text .vcf + its Tribble .idx
    (generated in-test; format follows htsjdk's public v3 LinearIndex)."""
    from disq_original_spark.sources.bgzf import BgzfReader
    from disq_original_spark.sources.tribble import create_tribble_index

    out = tmp_path_factory.mktemp("tribble") / "hiseq.vcf"
    with open(HISEQ, "rb") as fh:
        out.write_bytes(BgzfReader(fh).read(1 << 30))
    create_tribble_index(str(out))
    return str(out)


def test_tribble_index_structure(plain_hiseq):
    from disq_original_spark.sources.tribble import parse_tribble

    idx = parse_tribble(plain_hiseq + ".idx")
    assert "chr1" in idx.chromosomes
    ci = idx.chromosomes["chr1"]
    n_body = sum(
        1 for line in open(plain_hiseq) if not line.startswith("#") and line.strip()
    )
    assert sum(c.n_features for c in idx.chromosomes.values()) == n_body
    assert ci.bin_width == 8000
    assert len(ci.starts) > 1
    assert ci.end <= __import__("os").path.getsize(plain_hiseq)


def test_tribble_split_pruning_partition_counts(spark, plain_hiseq):
    """Plain-VCF analog of the tabix pruning fact: a narrow interval keeps
    a strict subset of the byte-range splits."""
    import os

    from disq_original_spark.sources.tribble import (
        parse_tribble,
        text_ranges_for_intervals,
    )
    from disq_original_spark.sources.tribble import split_tasks

    idx = parse_tribble(plain_hiseq + ".idx")
    ranges = text_ranges_for_intervals(idx, [("chr1", 2_700_000, 2_800_000)])
    assert ranges
    flen = os.path.getsize(plain_hiseq)
    split = 256 * 1024
    # splits no index range reaches get no task
    kept = split_tasks([(plain_hiseq, flen, ranges)], split)
    assert 0 < len(kept) < len(range(0, flen, split))


def test_tribble_pruned_read_matches_filtered_full_read(spark, plain_hiseq):
    intervals = spark.createDataFrame(
        [("chr1", 2_700_000, 2_800_000)], "contig string, start long, end long"
    )
    src = VcfSource()
    pruned = src.read(spark, plain_hiseq, intervals=intervals, split_size=256 * 1024)
    # the plan must go through the pruned ranged reader, not a full text scan
    full = src.read(spark, plain_hiseq)
    import pyspark.sql.functions as F

    from disq_original_spark.operators.interval import interval_filter
    from disq_original_spark.sources.vcf import variant_end

    spanned = full.withColumn(
        "end_", variant_end(F.col("info"), F.col("pos"), F.col("ref"))
    )
    expected = (
        interval_filter(
            spanned.withColumnRenamed("pos", "start").withColumnRenamed("end_", "end"),
            intervals,
        )
        .withColumnRenamed("start", "pos")
        .select(*full.columns)
        .collect()
    )
    key = lambda r: (r.contig, r.pos, r.ref)
    got = pruned.collect()
    assert sorted(map(key, got)) == sorted(map(key, expected))
    assert len(got) > 0


def test_text_line_range_tiling_exactly_once(request, tmp_path):
    """Any tiling of the file yields each line exactly once (the Hadoop
    first-byte ownership rule): a file with CRLF endings, a line longer
    than a read chunk and no trailing newline, then the HiSeq VCF."""
    import os

    from disq_original_spark.sources.tribble import _MIN_CHUNK, iter_text_lines_in_range

    edges = tmp_path / "edges.txt"
    long_line = b"x" * (3 * _MIN_CHUNK + 17)
    edges.write_bytes(b"a\r\nbb\r\n" + long_line + b"\r\n\r\nc\nlast")
    for path in (str(edges), request.getfixturevalue("plain_hiseq")):
        flen = os.path.getsize(path)
        with open(path, "rb") as fh:
            whole = fh.read().split(b"\n")
        if whole[-1] == b"":
            whole.pop()  # the file's last newline ends a line, starts none
        for split in (7_777, 64 * 1024, flen):
            got = []
            with open(path, "rb") as fh:
                for s in range(0, flen, split):
                    got.extend(iter_text_lines_in_range(fh, s, min(s + split, flen)))
            assert got == [w.rstrip(b"\r") for w in whole], f"{path}: tiling {split} differs"


def test_vcf_line_sample_values_follow_format_keys(spark):
    """A sample whose attrs diverge from sample 1's FORMAT keys writes '.'
    for missing keys and never emits values positionally misaligned."""
    from disq_original_spark.sources.vcf import to_vcf_line

    genotypes = [
        {"sample": "s1", "gt": "0/1", "attrs": {"GT": "0/1", "DP": "10", "GQ": "99"}},
        # s2 lacks DP and has an extra key that must NOT leak into the line
        {"sample": "s2", "gt": "1/1", "attrs": {"GT": "1/1", "GQ": "7", "XX": "nope"}},
    ]
    df = spark.createDataFrame(
        [("chr1", 100, None, "A", ["T"], 50.0, [], {}, genotypes)],
        "contig string, pos long, id string, ref string, alts array<string>, "
        "qual double, filters array<string>, info map<string,string>, "
        "genotypes array<struct<sample:string,gt:string,attrs:map<string,string>>>",
    )
    line = df.select(to_vcf_line(["s1", "s2"]).alias("v")).collect()[0]["v"]
    cols = line.split("\t")
    fmt, s1, s2 = cols[8], cols[9], cols[10]
    keys = fmt.split(":")
    assert set(keys) == {"GT", "DP", "GQ"}
    s1_map = dict(zip(keys, s1.split(":")))
    s2_map = dict(zip(keys, s2.split(":")))
    assert s1_map == {"GT": "0/1", "DP": "10", "GQ": "99"}
    assert s2_map == {"GT": "1/1", "DP": ".", "GQ": "7"}  # '.' where absent



# adversarial body lines: duplicated INFO and FORMAT keys, flag keys,
# every FILTER and ALT form, 1/5/7/8-field lines, samples with more and
# fewer sub-fields than FORMAT keys, an empty line, a trailing tab, and
# QUAL strings on which Spark's double cast and Python's float() differ
_ADVERSARIAL = [
    "",
    "chr1",
    "chr1\t100\t.\tA\tT",
    "chr1\t100\trs7\tA\tT\t50\tPASS",
    "chr1\t100\t.\tA\tT\t50\tq10;s50\tDP=1",
    "chr1\t100\t.\tA\t.\t.\t.\t.",
    "chr1\t100\t.\tA\tT\t50\tPASS\tDP=1\t",
    "chr1\t100\t.\tA\tT\t50\tPASS\tDP=1\tGT:DP\t0/1:3\t",
    "chr1\t100\trs1\tA\tT,G\t1d\tq10;q10\tDP=5;AF=0.1;DP=9;DB;X=;=v;;Y=a=b\t"
    "GT:DP:DP:GQ\t0/1:3:7:9\t1|1:2\t./.:1:2:3:4:5",
    "chr1\t100\t.\tA\tA,,C\t 1\tPASS;q10\tDB;DP=5;DB;AF=1;DP=7\tDP:GT:DP\t3:0/1\t.\t:",
    "chr1\t100\t.\tA\tT\tinf\tPASS\tEND=7;END=\tGT\t0|1\t1|1\t0|0",
    "chr1\t100\t.\tA\tT\tNaN\t.\tDP=1;DP\t.\t.",
    "chr1\t100\t.\tA\tT\t1_0\tPASS\t.\tGT:GT\t0/1:1/1\t0/0",
    "chr1\t100\t.\tA\tT\t0x1p3\tPASS\tDP=1\tGQ\t5\t6\t7\t8",
    "chr1\t100\t.\tA\tT\t\u0661\tPASS\tDP=1\t\t\t\t",
    "chr1\t100\t.\tA\tT\t1\u3000\tPASS\tDP=1\tGT\t",
    "chr1\tx100\t.\tA\tT\t-0\tPASS\tDP=1",
    "chr1\t 100 \t.\tA\tT\t.5e1\tPASS\tDP=1",
    "\t\t\t\t\t\t\t",
]


def test_parse_vcf_line_equals_parse_vcf_lines(spark, tmp_path):
    """The decode tasks' ``parse_vcf_line`` gives the rows of the Spark
    SQL reference parse (``vcf_reference.parse_vcf_lines``) on the same
    lines, map entry order included (compared as ``to_json`` of each row):
    the twins VCF and the adversarial lines, with 0, 1 and 3 samples."""
    from pyspark.sql import functions as F

    from disq_original_spark.sources.arrow_xfer import to_dataframe
    from disq_original_spark.sources.vcf import VARIANTS_SCHEMA, parse_vcf_line

    from .twins import frame, variants
    from .vcf_reference import parse_vcf_lines

    rows, header = variants()
    twin = tmp_path / "twins.vcf"
    VcfSink().write(frame(spark, rows, VARIANTS_SCHEMA).coalesce(1), header, str(twin))
    body = [line for line in twin.read_text().split("\n") if line and not line.startswith("#")]
    assert len(body) == len(rows)

    def as_json(df) -> list[str]:
        return [r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()]

    for samples, lines in (
        (["NA12878"], body + _ADVERSARIAL),
        ([], _ADVERSARIAL),
        (["S1", "S2", "S3"], _ADVERSARIAL),
    ):
        native = parse_vcf_lines(spark.createDataFrame([(v,) for v in lines], "value string"), samples)
        chunks = [lines[i : i + 1000] for i in range(0, len(lines), 1000)]
        in_task = to_dataframe(
            spark, chunks, lambda chunk: (parse_vcf_line(v, samples) for v in chunk), VARIANTS_SCHEMA
        )
        want, got = as_json(native), as_json(in_task)
        assert len(got) == len(lines)
        diff = [(v, w, g) for v, w, g in zip(lines, want, got) if w != g]
        assert diff == [], diff[:3]


# ---------------------------------------------------- write-time index creation


def test_write_time_tbi_matches_posthoc_build(spark, tmp_path):
    """Executors emit part-relative tabix metadata during the part writes;
    the driver rebases at merge time.  Result must be byte-identical to a
    sequential post-hoc build over the merged file."""
    from disq_original_spark.sources.tabix import create_tabix_index

    src = VcfSource()
    df = src.read(spark, HISEQ, split_size=128 * 1024)
    header = src.read_header(HISEQ)
    out = str(tmp_path / "indexed.vcf.bgz")
    assert df.rdd.getNumPartitions() > 1  # multi-part merge is exercised
    VcfSink().write(df, header, out, write_index=True)
    written = Path(out + ".tbi").read_bytes()
    create_tabix_index(out)  # overwrites with the sequential build
    assert Path(out + ".tbi").read_bytes() == written


def test_write_time_tbi_drives_pruned_read(spark, tmp_path):
    src = VcfSource()
    df = src.read(spark, HISEQ, split_size=128 * 1024)
    header = src.read_header(HISEQ)
    out = str(tmp_path / "rt.vcf.bgz")
    VcfSink().write(df, header, out, write_index=True)
    intervals = spark.createDataFrame(
        [("chr1", 2_700_000, 2_800_000)], "contig string, start long, end long"
    )
    pruned = src.read(spark, out, intervals=intervals, split_size=64 * 1024)
    expected = src.read(spark, HISEQ, intervals=intervals)
    key = lambda r: (r.contig, r.pos, r.ref)
    a = sorted(map(key, pruned.collect()))
    b = sorted(map(key, expected.collect()))
    assert a == b and len(a) > 0


def test_write_time_tribble_idx_for_plain_vcf(spark, tmp_path):
    """Plain-text output gets the Tribble .idx (same format->index pairing
    the read side consults)."""
    from disq_original_spark.sources.tribble import parse_tribble

    src = VcfSource()
    df = src.read(spark, TEST_VCF)
    header = src.read_header(TEST_VCF)
    out = str(tmp_path / "indexed.vcf")
    VcfSink().write(df, header, out, write_index=True)
    idx = parse_tribble(out + ".idx")
    assert sum(c.n_features for c in idx.chromosomes.values()) == df.count()
    again = src.read(spark, out)
    assert sorted(map(str, again.collect())) == sorted(map(str, df.collect()))


def test_vcf_feature_span_end_aware():
    from disq_original_spark.sources.tabix import vcf_feature_span

    # plain SNP: REF span
    assert vcf_feature_span("chr1\t101\t.\tAC\tA\t.\t.\t.") == ("chr1", 100, 102)
    # symbolic deletion spans to INFO END (htsjdk indexer semantics)
    line = "chr2\t1000\t.\tN\t<DEL>\t.\tPASS\tSVTYPE=DEL;END=5000"
    assert vcf_feature_span(line) == ("chr2", 999, 5000)
    # SVLEN-less END in first position
    assert vcf_feature_span("1\t5\t.\tG\t<DUP>\t.\t.\tEND=42\tGT\t0/1") == ("1", 4, 42)
    # the read side takes a line's LAST END (cast as Spark's try_cast); an
    # empty END= falls back to the REF span
    assert vcf_feature_span("1\t5\t.\tG\t<DEL>\t.\t.\tEND=42;DP=3;END=+90") == ("1", 4, 90)
    assert vcf_feature_span("1\t5\t.\tG\t<DEL>\t.\t.\tEND=42;END=") == ("1", 4, 5)


def test_variants_storage_write_index_option(spark, tmp_path):
    from disq_original_spark.storage import VariantsStorage

    st = VariantsStorage(spark)
    df = st.read(HISEQ)
    header = st.read_header(HISEQ)
    out = str(tmp_path / "st.vcf.bgz")
    st.write(df, out, header, write_index=True)
    assert Path(out + ".tbi").exists()


def test_sharded_bgzf_vcf_per_shard_tbi(spark, tmp_path):
    """Sharded BGZF output with write_index: every shard gets a .tbi built
    executor-side, byte-identical to a sequential post-hoc build over that
    shard (a shard is a complete file — no rebase, no driver step)."""
    from disq_original_spark.sources.tabix import create_tabix_index

    src = VcfSource()
    df = src.read(spark, HISEQ, split_size=128 * 1024)
    header = src.read_header(HISEQ)
    out = str(tmp_path / "out.vcf.bgz.sharded")
    # position-sorted within each shard: the tabix/samtools precondition
    sharded = df.repartition(3).sortWithinPartitions("contig", "pos")
    VcfSink().write_sharded(sharded, header, out, write_index=True)
    shards = sorted(Path(out).glob("part-*.vcf.bgz"))
    assert len(shards) == 3
    for s in shards:
        written = Path(str(s) + ".tbi").read_bytes()
        create_tabix_index(str(s))
        assert Path(str(s) + ".tbi").read_bytes() == written
    again = src.read(spark, out)
    assert again.count() == df.count()
    # directory interval read prunes per shard via its own .tbi and still
    # returns exactly the residual-filtered rows
    intervals = spark.createDataFrame(
        [("chr1", 2_700_000, 2_800_000)], "contig string, start long, end long"
    )
    via_dir = src.read(spark, out, intervals=intervals)
    expected = src.read(spark, HISEQ, intervals=intervals)
    key = lambda r: (r.contig, r.pos, r.ref)
    a = sorted(map(key, via_dir.collect()))
    b = sorted(map(key, expected.collect()))
    assert a == b and len(a) > 0


def test_sharded_plain_vcf_per_shard_idx(spark, tmp_path):
    src = VcfSource()
    df = src.read(spark, TEST_VCF)
    header = src.read_header(TEST_VCF)
    out = str(tmp_path / "out.vcf.sharded")
    VcfSink().write_sharded(df, header, out, write_index=True)
    shards = sorted(Path(out).glob("part-*.vcf"))
    assert shards and all(Path(str(s) + ".idx").exists() for s in shards)


def test_duplicate_info_and_format_keys_last_wins(spark, tmp_path):
    """Duplicate INFO/FORMAT keys resolve last-wins inside the parse
    expression — no session mapKeyDedupPolicy mutation, no
    DUPLICATED_MAP_KEY crash under the default EXCEPTION policy."""
    p = tmp_path / "dup.vcf"
    p.write_text(
        "##fileformat=VCFv4.2\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
        "chr1\t100\t.\tA\tT\t50\tPASS\tDP=5;AF=0.1;DP=9\tGT:DP:DP\t0/1:3:7\n"
    )
    policy_before = spark.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    row = VcfSource().read(spark, str(p)).collect()[0]
    assert row["info"]["DP"] == "9"
    assert row["genotypes"][0]["attrs"]["DP"] == "7"
    assert spark.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION") == policy_before


def test_vcf_sharded_plain_interval_read_covers_all_shards(spark, tmp_path):
    """Regression: interval reads of a sharded plain-text directory must
    plan splits for EVERY shard (an earlier cut planned only the first
    file's, silently dropping the other shards' rows), and per-shard
    Tribble .idx sidecars must never be ingested as data lines."""
    import os

    import pyspark.sql.functions as F

    from disq_original_spark.sources.headers import read_vcf_header_text
    from disq_original_spark.sources.vcf import VcfSink, VcfSource

    src = VcfSource()
    df = src.read(spark, TEST_VCF)
    hdr = read_vcf_header_text(TEST_VCF)
    out = str(tmp_path / "out.vcf.sharded")
    VcfSink().write_sharded(
        df.repartition(2).sortWithinPartitions("contig", "pos"),
        hdr,
        out,
        write_index=True,
    )
    assert sum(p.endswith(".idx") for p in os.listdir(out)) == 2
    # no intervals: sidecars excluded, full count preserved
    assert src.read(spark, out).count() == df.count()
    # intervals spanning everything: rows must come back from BOTH shards
    lo, hi = df.agg(F.min("pos"), F.max("pos")).first()
    contig = df.select("contig").first()[0]
    intervals = spark.createDataFrame(
        [(contig, int(lo), int(hi) + 10_000)], "contig string, start long, end long"
    )
    back = src.read(spark, out, intervals=intervals, split_size=64 * 1024)
    key = lambda r: (r.contig, r.pos, r.ref)
    assert sorted(map(key, back.collect())) == sorted(map(key, df.collect()))


def test_plain_vcf_without_intervals_builds_rows_in_the_task(spark, tmp_path):
    """A plain-text read without intervals takes the line tasks of every
    other VCF read: its plan is one ``MapInArrow``, not a text scan."""
    path = tmp_path / "t.vcf"
    path.write_text(
        "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "chr1\t5\t.\tG\tT\t9\tPASS\tDP=3\n"
    )
    df = VcfSource().read(spark, str(path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "FileScan" not in plan
    assert [(r.contig, r.pos, r.info) for r in df.collect()] == [("chr1", 5, {"DP": "3"})]
