"""Malformed-input behavior: corrupt or truncated inputs must raise, never
silently return partial data — on a 100 TB pipeline a reader that drops the
tail of a truncated shard is the worst failure mode there is (silent data
loss that no downstream count will catch)."""

from __future__ import annotations

from pathlib import Path

import pytest

from disq_original_spark.sources.bam import BamSource
from disq_original_spark.sources.vcf import VcfSource

BAM = "/root/reference/src/test/resources/1.bam"
HISEQ = "/root/reference/src/test/resources/HiSeq.10000.vcf.bgz"


def test_truncated_bam_raises_not_partial(spark, tmp_path):
    data = Path(BAM).read_bytes()
    trunc = tmp_path / "trunc.bam"
    trunc.write_bytes(data[: int(len(data) * 0.6)])
    with pytest.raises(Exception):
        BamSource().read(spark, str(trunc), split_size=128 * 1024).count()


def test_bam_bad_magic_raises_cleanly(spark, tmp_path):
    data = Path(BAM).read_bytes()
    bad = tmp_path / "bad.bam"
    bad.write_bytes(b"XXXX" + data[4:])
    with pytest.raises(ValueError, match="BGZF"):
        BamSource().read(spark, str(bad), split_size=128 * 1024).count()


def test_truncated_bgzf_vcf_raises_not_partial(spark, tmp_path):
    data = Path(HISEQ).read_bytes()
    trunc = tmp_path / "trunc.vcf.bgz"
    # cut inside a compressed block (not on a block boundary)
    trunc.write_bytes(data[: int(len(data) * 0.6) + 13])
    with pytest.raises(Exception):
        VcfSource().read(spark, str(trunc), split_size=64 * 1024).count()


def _mid_block_cuts(n_bytes: int, n_cuts: int = 5) -> list[int]:
    """Deterministic truncation points spread over (35%, 95%) of the
    file.  An arbitrary interior cut leaves the last block/container/
    record incomplete, which every reader must detect (CRC/length check
    on BGZF inflate, extent check on CRAM containers, record-length
    check on BAM/BCF); the measure-zero exception — a cut EXACTLY on a
    final block boundary — is the lenient warn path pinned separately
    by the terminator tests, and none of these fixed points lands on
    one (asserted by the raises themselves)."""
    return [
        int(n_bytes * (0.35 + 0.6 * i / max(1, n_cuts - 1))) | 1
        for i in range(n_cuts)
    ]


def test_truncation_sweep_raises_for_every_binary_format(spark, tmp_path):
    """Silent tail loss is the 100 TB failure mode: for BAM, CRAM, BCF and
    BGZF-VCF, truncating mid-block at five spread-out points must raise —
    never return a partial count."""
    from disq_original_spark.sources.bcf import BcfSink, BcfSource
    from disq_original_spark.sources.cram import CramSource
    from disq_original_spark.sources.headers import read_vcf_header_text

    res = Path("/root/reference/src/test/resources")
    # build a BCF input from the VCF fixture via this repo's own sink
    bcf_path = str(tmp_path / "hiseq.bcf")
    BcfSink().write(
        VcfSource().read(spark, str(res / "HiSeq.10000.vcf.bgz")),
        read_vcf_header_text(str(res / "HiSeq.10000.vcf.bgz")),
        bcf_path,
    )
    cases = [
        (
            "bam",
            Path(BAM).read_bytes(),
            lambda p: BamSource().read(spark, p, split_size=128 * 1024).count(),
        ),
        (
            "cram",
            (res / "valid.cram").read_bytes(),
            lambda p: CramSource()
            .read(spark, p, reference_path=str(res / "valid.fasta"))
            .count(),
        ),
        (
            "bcf",
            Path(bcf_path).read_bytes(),
            lambda p: BcfSource().read(spark, p).count(),
        ),
        (
            "vcf.bgz",
            Path(HISEQ).read_bytes(),
            lambda p: VcfSource().read(spark, p, split_size=64 * 1024).count(),
        ),
    ]
    for fmt, data, job in cases:
        for cut in _mid_block_cuts(len(data)):
            p = tmp_path / f"trunc_{cut}.{fmt}"
            p.write_bytes(data[:cut])
            with pytest.raises(Exception):
                job(str(p))
            p.unlink()


def test_truncated_fastq_mid_record_raises(spark, tmp_path):
    """A FASTQ cut inside a 4-line record must raise, not drop the tail."""
    from disq_original_spark.sources.fastq import FastqSource

    rec = "@r{i}\nACGTACGT\n+\nIIIIIIII\n"
    full = "".join(rec.format(i=i) for i in range(200))
    # cut inside record 150's quality line
    cut = full.index("@r150") + len("@r150\nACGTACGT\n+\nII")
    p = tmp_path / "trunc.fastq"
    p.write_text(full[:cut])
    with pytest.raises(Exception):
        FastqSource().read(spark, str(p), split_size=1 << 20).count()


def test_truncated_sam_strict_raises_even_under_count(spark, tmp_path):
    """A SAM file cut mid-line (11 mandatory fields truncated to 10):
    STRICT must raise even when the consumer only calls count() — the
    original withColumn(raise_error) enforcement was ELIDED by column
    pruning whenever no downstream operator read `value`, silently
    skipping validation.  SILENT drops exactly the one malformed line;
    LENIENT keeps it with nulled-out fields (htsjdk parity)."""
    from disq_original_spark.sources.sam import SamSource

    src = SamSource()
    full = src.read(spark, "/root/reference/src/test/resources/test.sam").count()
    text = Path("/root/reference/src/test/resources/test.sam").read_text()
    body_lines = [ln for ln in text.splitlines() if not ln.startswith("@")]
    assert full == len(body_lines)
    # cut the LAST line roughly in half (inside field 10 of 11)
    cut_text = text[: text.rindex(body_lines[-1]) + max(3, len(body_lines[-1]) // 2)]
    p = tmp_path / "trunc.sam"
    p.write_text(cut_text)
    with pytest.raises(Exception):
        src.read(spark, str(p), stringency="strict").count()
    assert src.read(spark, str(p), stringency="silent").count() == full - 1
    assert src.read(spark, str(p), stringency="lenient").count() == full


def test_truncated_cram_with_intact_crai_raises(spark, tmp_path):
    """A truncated CRAM beside its original .crai: snap_splits iterates
    [0, file_len) and would silently DROP the index entries past EOF —
    the indexed fast path must instead refuse (truncated data or stale
    index), for both the plain read and the interval-pruned read."""
    import shutil

    from disq_original_spark.sources.cram import CramSource

    res = Path("/root/reference/src/test/resources")
    data = (res / "valid.cram").read_bytes()
    p = tmp_path / "trunc.cram"
    p.write_bytes(data[: len(data) // 3])
    shutil.copy(res / "valid.cram.crai", tmp_path / "trunc.cram.crai")
    with pytest.raises(ValueError, match="stale index|truncated CRAM"):
        CramSource().read(
            spark, str(p), reference_path=str(res / "valid.fasta")
        ).count()
    ivs = spark.createDataFrame(
        [("chr1", 1, 10_000_000)], "contig string, start long, end long"
    )
    with pytest.raises(Exception, match="stale index|truncated CRAM"):
        CramSource().read(
            spark,
            str(p),
            reference_path=str(res / "valid.fasta"),
            intervals=ivs,
        ).count()


def test_bam_partial_next_block_header_raises(spark, tmp_path):
    """A cut leaving 1..17 bytes of the NEXT block's header used to read
    back as a clean stop (read_block_header returned None for any short
    read, conflating partial headers with exact EOF) — it must raise."""
    from disq_original_spark.sources.bgzf import BgzfBlock, read_block_header

    data = Path(BAM).read_bytes()
    # find a mid-file block start by walking the chain
    pos, starts = 0, []
    with open(BAM, "rb") as fh:
        while True:
            hdr = read_block_header(fh, pos)
            if hdr is None:
                break
            starts.append(pos)
            pos += hdr[0]
    mid = starts[len(starts) // 2]
    p = tmp_path / "partial_hdr.bam"
    p.write_bytes(data[: mid + 10])  # 10 of the 18 header bytes
    with pytest.raises(Exception):
        BamSource().read(spark, str(p), split_size=128 * 1024).count()


def test_truncated_bam_with_intact_bai_interval_read_raises(spark, tmp_path):
    """Truncated BAM beside the ORIGINAL .bai: the interval fast path's
    index chunks point past end-of-file and must raise (stale index /
    truncated data), never yield a silently-reduced result."""
    import shutil

    from disq_original_spark.sources.bam import BamSink, BamSource
    from disq_original_spark.sources.headers import read_bam_header

    # build a coordinate-sorted BAM + write-time .bai from the fixture
    header, _refs, _fv = read_bam_header(BAM)
    reads = BamSource().read(spark, BAM, split_size=300 * 1024)
    from disq_original_spark.operators.sort import coordinate_sort, set_sort_order

    header = set_sort_order(header, "coordinate")
    full = str(tmp_path / "sorted.bam")
    BamSink().write(coordinate_sort(reads, header), header, full, write_bai=True)
    data = Path(full).read_bytes()
    p = tmp_path / "trunc.bam"
    p.write_bytes(data[: int(len(data) * 0.5) | 1])
    shutil.copy(full + ".bai", str(p) + ".bai")
    contig = header.contigs[0][0]
    ivs = spark.createDataFrame(
        [(contig, 1, 300_000_000)], "contig string, start long, end long"
    )
    with pytest.raises(Exception):
        BamSource().read(
            spark, str(p), intervals=ivs, split_size=128 * 1024
        ).count()


def test_truncated_vcf_with_intact_tbi_interval_read_raises(spark, tmp_path):
    """Truncated BGZF-VCF beside its original tabix index: the pruned
    tiles only cover surviving bytes, so without a check the requested
    intervals' missing tail would silently vanish from the result."""
    import shutil

    res = Path("/root/reference/src/test/resources")
    src = res / "HiSeq.10000.vcf.bgz"
    assert (res / "HiSeq.10000.vcf.bgz.tbi").exists()
    data = src.read_bytes()
    p = tmp_path / "trunc.vcf.bgz"
    # cut at 90% — late enough that the header scan (which inflates an
    # early ~1 MB uncompressed chunk) succeeds, so the failure exercised
    # is the stale-index planning check, not the header read
    p.write_bytes(data[: int(len(data) * 0.9)])
    shutil.copy(res / "HiSeq.10000.vcf.bgz.tbi", str(p) + ".tbi")
    ivs = spark.createDataFrame(
        [("chr1", 1, 2_000_000_000)], "contig string, start long, end long"
    )
    with pytest.raises(Exception, match="stale index|truncated VCF"):
        VcfSource().read(spark, str(p), intervals=ivs).count()


def _block_boundary_cut(path: str, frac: float = 0.6) -> int:
    """A truncation point EXACTLY on a BGZF block boundary near ``frac``
    of the file — the cut no CRC/partial-header check can see."""
    from disq_original_spark.sources.bgzf import read_block_header

    target = Path(path).stat().st_size * frac
    pos, best = 0, 0
    with open(path, "rb") as fh:
        while True:
            hdr = read_block_header(fh, pos)
            if hdr is None:
                break
            if pos and abs(pos - target) < abs(best - target):
                best = pos
            pos += hdr[0]
    assert best > 0
    return best


@pytest.fixture(scope="module")
def indexed_twins(spark, tmp_path_factory):
    """BAM, BGZF VCF and BCF written from the committed twins through the
    repo's sinks, each beside one index: ``.bai``, ``.tbi`` and ``.csi``
    from the sinks, a BAM ``.csi`` and a tabix ``.csi`` from the builders."""
    import shutil

    from disq_original_spark.sources.bam import READS_SCHEMA, BamSink
    from disq_original_spark.sources.vcf import VARIANTS_SCHEMA
    from disq_original_spark.sources.csi import create_csi_for_bam, create_csi_for_vcf
    from disq_original_spark.storage import VariantsStorage

    from .twins import frame, reads_header, reads_rows, sorted_reads, variants

    d = tmp_path_factory.mktemp("indexed")
    reads = frame(spark, reads_rows(sorted_reads()), READS_SCHEMA).coalesce(1)
    BamSink().write(reads, reads_header(), str(d / "r.bam"), write_sbi=False, write_bai=True)
    rows, header = variants()
    vdf = frame(spark, rows, VARIANTS_SCHEMA).coalesce(1)
    for name in ("v.vcf.bgz", "v.bcf"):
        VariantsStorage(spark).write(vdf, str(d / name), header, write_index=True)
    for src, dst, build in (("r.bam", "rc.bam", create_csi_for_bam), ("v.vcf.bgz", "vc.vcf.bgz", create_csi_for_vcf)):
        shutil.copy(d / src, d / dst)
        build(str(d / dst))
    return {
        "bam.bai": (d / "r.bam", ".bai"),
        "bam.csi": (d / "rc.bam", ".csi"),
        "vcf.tbi": (d / "v.vcf.bgz", ".tbi"),
        "vcf.csi": (d / "vc.vcf.bgz", ".csi"),
        "bcf.csi": (d / "v.bcf", ".csi"),
    }


@pytest.mark.parametrize("case", ["bam.bai", "bam.csi", "vcf.tbi", "vcf.csi", "bcf.csi"])
def test_block_boundary_cut_beside_intact_index_raises_at_planning(spark, tmp_path, indexed_twins, case):
    """Every BGZF index (one lookup, ``tabix.index_chunks``) refuses a file
    cut exactly on a block boundary beside its intact index: the read
    raises while it plans, before any task runs."""
    import shutil

    from disq_original_spark.sources.bcf import BcfSource
    from disq_original_spark.storage import ReadsStorage, VariantsStorage

    src, ext = indexed_twins[case]
    cut = tmp_path / src.name
    cut.write_bytes(src.read_bytes()[: _block_boundary_cut(str(src))])
    shutil.copy(str(src) + ext, str(cut) + ext)
    contig = "1" if case.startswith("bam") else "chr1"
    ivs = spark.createDataFrame([(contig, 1, 300_000_000)], "contig string, start long, end long")
    with pytest.raises(ValueError, match="stale index|truncated"):
        if case.startswith("bam"):
            ReadsStorage(spark).read(str(cut), intervals=ivs)
        elif case.startswith("vcf"):
            VariantsStorage(spark).read(str(cut), intervals=ivs)
        else:
            BcfSource().read(spark, str(cut))


def test_block_boundary_cut_bgzf_vcf_read_whole_warns(spark, tmp_path, indexed_twins):
    """A BGZF VCF cut exactly on a block boundary and read whole (no
    interval, so no index to refuse it) reads short: the planner warns
    that the BGZF EOF terminator is missing, as the BAM reader does; the
    intact file draws no warning."""
    import warnings

    from disq_original_spark.storage import VariantsStorage

    src, _ext = indexed_twins["vcf.tbi"]
    cut = tmp_path / src.name
    cut.write_bytes(src.read_bytes()[: _block_boundary_cut(str(src))])
    with pytest.warns(UserWarning, match="no BGZF EOF terminator"):
        short = VariantsStorage(spark).read(str(cut)).count()
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        full = VariantsStorage(spark).read(str(src)).count()
    assert not [w for w in seen if "no BGZF EOF terminator" in str(w.message)]
    assert 0 < short < full


def test_cut_cram_beside_intact_crai_raises_in_both_planners(spark, tmp_path):
    """Both CRAM planners (``plan_splits`` for whole-file reads, and the
    interval planner) refuse a CRAM cut at its last container's start
    beside its intact ``.crai``."""
    import shutil

    from disq_original_spark.sources.bam import READS_SCHEMA
    from disq_original_spark.sources.cram import CramSource, read_crai_offsets
    from disq_original_spark.sources.headers import SamHeader
    from disq_original_spark.storage import ReadsStorage

    from .twins import CRAM_HEADER, cram_reads, frame, reads_rows, seeded_fasta, sorted_reads

    fasta = seeded_fasta(tmp_path)
    full = str(tmp_path / "r.cram")
    reads = frame(spark, reads_rows(cram_reads(sorted_reads())), READS_SCHEMA).coalesce(1)
    ReadsStorage(spark, reference_path=fasta).write(reads, full, SamHeader.parse(CRAM_HEADER), write_index=True)
    cut = tmp_path / "cut.cram"
    cut.write_bytes(Path(full).read_bytes()[: read_crai_offsets(full + ".crai")[-1]])
    shutil.copy(full + ".crai", str(cut) + ".crai")
    with pytest.raises(ValueError, match="stale index"):
        CramSource().plan_splits(str(cut), 1024)
    ivs = spark.createDataFrame([("c1", 1, 20_000)], "contig string, start long, end long")
    with pytest.raises(ValueError, match="stale index"):
        ReadsStorage(spark, reference_path=fasta).read(str(cut), intervals=ivs)


def test_block_boundary_truncated_bam_with_bai_raises_at_planning(spark, tmp_path):
    """Truncation EXACTLY at a block boundary defeats every decode-level
    check (no partial block exists) — the .bai planning validation is the
    only thing standing between a stale index and a silently narrowed
    interval result."""
    import shutil

    from disq_original_spark.operators.sort import coordinate_sort, set_sort_order
    from disq_original_spark.sources.bam import BamSink, BamSource
    from disq_original_spark.sources.headers import read_bam_header

    header, _refs, _fv = read_bam_header(BAM)
    header = set_sort_order(header, "coordinate")
    reads = BamSource().read(spark, BAM, split_size=300 * 1024)
    full = str(tmp_path / "sorted.bam")
    BamSink().write(coordinate_sort(reads, header), header, full, write_bai=True)
    cut = _block_boundary_cut(full)
    p = tmp_path / "btrunc.bam"
    p.write_bytes(Path(full).read_bytes()[:cut])
    shutil.copy(full + ".bai", str(p) + ".bai")
    contig = header.contigs[0][0]
    ivs = spark.createDataFrame(
        [(contig, 1, 300_000_000)], "contig string, start long, end long"
    )
    with pytest.raises(Exception, match="stale index|truncated BAM"):
        BamSource().read(
            spark, str(p), intervals=ivs, split_size=128 * 1024
        ).count()


def test_block_boundary_truncated_bam_with_sbi_raises_at_planning(spark, tmp_path):
    """Same boundary cut beside the original .sbi: the split index's end
    sentinel points past the surviving bytes and planning must refuse."""
    import shutil

    src = "/root/reference/src/test/resources/1-with-splitting-index.bam"
    cut = _block_boundary_cut(src)
    p = tmp_path / "strunc.bam"
    p.write_bytes(Path(src).read_bytes()[:cut])
    shutil.copy(src + ".sbi", str(p) + ".sbi")
    with pytest.raises(Exception, match="stale index|truncated BAM"):
        BamSource().read(spark, str(p), split_size=128 * 1024).count()


def test_terminatorless_bam_with_eof_sentinel_sbi_accepted(spark, tmp_path):
    """A valid BAM lacking the OPTIONAL 28-byte BGZF EOF terminator, beside
    an htsjdk-convention .sbi whose end sentinel records the position at
    true EOF (exactly flen<<16, uoffset 0): samtools treats the missing
    terminator as warn-only, so planning must ACCEPT the pair — only a
    sentinel strictly past flen (or inside a block at flen) is stale
    (ADVICE r9; mirrors the strict-> convention of the BAI/tabix checks)."""
    import shutil

    from disq_original_spark.sources.bam import BamSource

    src = "/root/reference/src/test/resources/1-with-splitting-index.bam"
    full = Path(src).read_bytes()
    # the reference sentinel is (flen-28)<<16 — the position BEFORE the EOF
    # terminator block; stripping the terminator makes it exactly flen<<16
    p = tmp_path / "noterm.bam"
    p.write_bytes(full[:-28])
    shutil.copy(src + ".sbi", str(p) + ".sbi")
    want = BamSource().read(spark, src, split_size=128 * 1024, use_sbi=True).count()
    got = BamSource().read(spark, str(p), split_size=128 * 1024, use_sbi=True).count()
    assert got == want


def test_bam_encode_names_record_on_bad_qual():
    """encode_record must raise a ValueError naming the offending record
    when qual carries a non-phred character (codepoint > 0xFF), not a raw
    UnicodeEncodeError (ADVICE r9)."""
    from disq_original_spark.sources.bam_codec import encode_record

    row = {
        "qname": "badqual1", "flag": 4, "rname": None, "pos": 0, "mapq": 0,
        "cigar": None, "rnext": None, "pnext": 0, "tlen": 0,
        "seq": "ACGT", "qual": "IIĀI", "attributes": None,
    }
    with pytest.raises(ValueError, match="badqual1.*non-phred"):
        encode_record(row, {})


def test_truncated_bed_strict_raises_silent_drops(spark, tmp_path):
    """Mid-record truncation of a BED where the cut costs the tail line a
    mandatory column: STRICT must fail the job naming the bad line — even
    under count(), the prune-proof filter contract — while the default
    SILENT posture drops exactly that one line.  (A cut that leaves a
    numeric PREFIX of a coordinate is a valid shorter line — undetectable
    in any schema-free text format; that residual risk is inherent to BED
    and documented here rather than papered over.)"""
    from disq_original_spark.sources.bed import BedSource

    full = tmp_path / "a.bed"
    full.write_bytes(b"chr1\t0\t100\tx\nchr1\t200\t300\ty\nchr2\t50\t5000\tz\n")
    cut = tmp_path / "trunc.bed"
    raw = full.read_bytes()
    # cut right after "chr2\t50" — the tail line loses chromEnd (2 columns)
    cut.write_bytes(raw[: raw.rindex(b"\t5000")])

    assert BedSource().read(spark, str(full)).count() == 3
    assert BedSource().read(spark, str(cut)).count() == 2
    with pytest.raises(Exception, match="malformed record"):
        BedSource().read(spark, str(cut), stringency="strict").count()
    # strict over the intact file is a no-op
    assert BedSource().read(spark, str(full), stringency="strict").count() == 3


def test_truncated_gff_strict_raises_silent_drops(spark, tmp_path):
    """Same contract for GFF3: a tail line cut inside the mandatory
    columns must abort a STRICT read (named error), and be dropped — not
    half-parsed — by the default SILENT read."""
    from disq_original_spark.sources.gff import GffSource

    full = tmp_path / "a.gff3"
    full.write_bytes(
        b"##gff-version 3\n"
        b"chr1\tsrc\tgene\t100\t900\t.\t+\t.\tID=g1\n"
        b"chr1\tsrc\texon\t100\t400\t.\t+\t.\tID=e1;Parent=g1\n"
        b"chr2\tsrc\tgene\t1000\t2000\t.\t-\t.\tID=g2\n"
    )
    # cut inside column 3 of the last line: "chr2\tsrc\tge" has no
    # start/end left (a cut inside a NUMERIC column that leaves a valid
    # shorter number is undetectable in any text format — same caveat as
    # the BED test above)
    raw = full.read_bytes()
    cut = tmp_path / "trunc.gff3"
    cut.write_bytes(raw[: raw.rindex(b"\tgene") + 3])

    assert GffSource().read(spark, str(full)).count() == 3
    assert GffSource().read(spark, str(cut)).count() == 2
    with pytest.raises(Exception, match="malformed record"):
        GffSource().read(spark, str(cut), stringency="strict").count()
    assert GffSource().read(spark, str(full), stringency="strict").count() == 3


# ---------------------------------------------------------------------------
# One truncated shard inside a sharded DIRECTORY (VERDICT r10 task #4).
# The single-file truncation sweep above proves each reader fails loud on
# its own file; the 100 TB failure mode is one bad shard among thousands —
# the whole-directory read must raise, never return a silently short count.


def _truncate_middle_shard(dirpath: str, suffix: str) -> str:
    import os

    shards = sorted(p for p in os.listdir(dirpath) if p.endswith(suffix))
    assert len(shards) >= 2, shards
    victim = os.path.join(dirpath, shards[len(shards) // 2])
    raw = Path(victim).read_bytes()
    # interior cut, odd offset: inside a BGZF block / CRAM container /
    # BCF record for every shard these sinks produce (a cut exactly on a
    # final block boundary would take the lenient terminator-less path —
    # the raises below are the assertion that none of these do)
    Path(victim).write_bytes(raw[: (int(len(raw) * 0.6) | 1)])
    return victim


def test_truncated_shard_in_bam_directory_raises(spark, tmp_path):
    from disq_original_spark.sources.bam import BamSink, BamSource
    from disq_original_spark.sources.headers import read_bam_header

    header, _refs, _ = read_bam_header(BAM)
    df = BamSource().read(spark, BAM)
    out = str(tmp_path / "out.bam.sharded")
    BamSink().write_sharded(df.repartition(3), header, out)
    _truncate_middle_shard(out, ".bam")
    with pytest.raises(Exception):
        BamSource().read(spark, out).count()


def test_truncated_shard_in_bam_directory_raises_via_metadata_job(
    spark, tmp_path, monkeypatch
):
    """Same contract through the many-files planning path: with the
    metadata threshold forced below the shard count, planning runs as a
    Spark job (fsio.collect_metadata) instead of serial driver IO — the
    truncated shard must still surface as a raise, not a short count."""
    import disq_original_spark.sources.bam as bam_mod
    from disq_original_spark.sources.headers import read_bam_header

    header, _refs, _ = read_bam_header(BAM)
    df = bam_mod.BamSource().read(spark, BAM)
    out = str(tmp_path / "out.bam.sharded")
    bam_mod.BamSink().write_sharded(df.repartition(3), header, out)
    _truncate_middle_shard(out, ".bam")
    monkeypatch.setattr(bam_mod._collect_file_metadata, "__defaults__", (2,))
    with pytest.raises(Exception):
        bam_mod.BamSource().read(spark, out).count()


def test_truncated_shard_in_cram_directory_raises(spark, tmp_path):
    from disq_original_spark.sources.cram import CramSink, CramSource
    from disq_original_spark.sources.cram_codec import read_cram_meta

    res = Path("/root/reference/src/test/resources")
    cram, fasta = str(res / "valid.cram"), str(res / "valid.fasta")
    hdr = read_cram_meta(Path(cram).read_bytes())[0].header_text
    df = CramSource().read(spark, cram, reference_path=fasta)
    out = str(tmp_path / "out.cram.sharded")
    CramSink().write_sharded(df.repartition(3), hdr, out, reference_path=fasta)
    _truncate_middle_shard(out, ".cram")
    with pytest.raises(Exception):
        CramSource().read(spark, out, reference_path=fasta).count()


def test_truncated_shard_in_vcf_bgzf_directory_raises(spark, tmp_path):
    from disq_original_spark.sources.headers import read_vcf_header_text
    from disq_original_spark.sources.vcf import VcfSink, VcfSource

    hdr = read_vcf_header_text(HISEQ)
    df = VcfSource().read(spark, HISEQ)
    out = str(tmp_path / "out.vcf.bgz.sharded")
    VcfSink().write_sharded(df.repartition(3), hdr, out)
    _truncate_middle_shard(out, ".vcf.bgz")
    with pytest.raises(Exception):
        VcfSource().read(spark, out).count()


def test_truncated_shard_in_bcf_directory_raises(spark, tmp_path):
    from disq_original_spark.sources.headers import read_vcf_header_text
    from disq_original_spark.sources.vcf import VcfSource
    from disq_original_spark.storage import VariantsStorage

    hdr = read_vcf_header_text(HISEQ)
    st = VariantsStorage(spark)
    v = VcfSource().read(spark, HISEQ).repartition(3)
    out = str(tmp_path / "h.bcf.sharded")
    st.write(v, out, hdr)
    _truncate_middle_shard(out, ".bcf")
    with pytest.raises(Exception):
        st.read(out).count()


def test_truncated_shard_in_fastq_directory_raises(spark, tmp_path):
    """The text-format twin of the binary-directory sweep above: one
    FASTQ shard cut inside a 4-line record must fail the whole
    multi-file directory read, not shorten it."""
    from disq_original_spark.sources.fastq import FastqSource

    rec = "@r{i}\nACGTACGT\n+\nIIIIIIII\n"
    d = tmp_path / "reads.fastq.dir"
    d.mkdir()
    for shard in range(3):
        (d / f"part-{shard:05d}.fastq").write_text(
            "".join(rec.format(i=shard * 200 + i) for i in range(200))
        )
    victim = d / "part-00001.fastq"
    full = victim.read_text()
    cut = full.index("@r350") + len("@r350\nACGTACGT\n+\nII")
    victim.write_text(full[:cut])
    with pytest.raises(Exception):
        FastqSource().read(spark, str(d), split_size=1 << 20).count()
