"""CSI (parameterized-binning index) reader/builder + source fallback.

No ``.csi`` fixture ships with the reference, so (like ``.bai``) the reader
is validated against indexes we build ourselves, at the classic (14, 5)
geometry — where CSI must agree with BAI/tabix exactly — and at a
non-default geometry that exercises the parameterization.
"""

from __future__ import annotations

import random
import shutil
from pathlib import Path

import pytest

from disq_original_spark.sources.csi import (
    CsiAccumulator,
    bin_limit,
    create_csi_for_bam,
    create_csi_for_vcf,
    parse_csi,
    reg2bins_parameterized,
)

RES = Path("/root/reference/src/test/resources")
BAM = str(RES / "1.bam")
HISEQ = str(RES / "HiSeq.10000.vcf.bgz")


def test_reg2bins_matches_classic_scheme():
    from disq_original_spark.sources.tabix import reg2bins

    rng = random.Random(7)
    for _ in range(200):
        beg = rng.randrange(0, 1 << 29)
        end = beg + rng.randrange(1, 1 << 20)
        assert sorted(reg2bins_parameterized(beg, end, 14, 5)) == sorted(
            reg2bins(beg, end)
        )


def test_reg2bin_matches_classic_scheme():
    from disq_original_spark.sources.bam_codec import reg2bin

    acc = CsiAccumulator(1, 14, 5)
    rng = random.Random(11)
    for _ in range(200):
        beg = rng.randrange(0, 1 << 29)
        end = beg + rng.randrange(1, 1 << 18)
        assert acc._reg2bin(beg, end) == reg2bin(beg, end)


def test_bin_limit():
    assert bin_limit(14, 5) == 37449  # 1+8+64+512+4096+32768


def test_deep_scheme_bins_address_long_contigs():
    # (14, 7): addressable span 2^(14+21) = 32 Gbp — beyond the 512 Mbp
    # classic cap; a position past 2^29 must bin without overflow
    acc = CsiAccumulator(1, 14, 7)
    pos = (1 << 31) + 12345
    b = acc._reg2bin(pos, pos + 100)
    assert 0 <= b < bin_limit(14, 7)
    assert b in reg2bins_parameterized(pos, pos + 100, 14, 7)


@pytest.mark.parametrize("geometry", [(14, 5), (12, 6)])
def test_bam_interval_read_via_csi_matches_full_scan(spark, tmp_path, geometry):
    from disq_original_spark.sources.bam import BamSource

    min_shift, depth = geometry
    staged = str(tmp_path / "1.bam")
    shutil.copy(BAM, staged)  # no .bai/.csi beside it yet
    create_csi_for_bam(staged, min_shift, depth)
    idx = parse_csi(staged + ".csi")
    assert (idx.min_shift, idx.depth) == geometry
    intervals = spark.createDataFrame(
        [("1", 24_800_000, 24_860_000)], "contig string, start long, end long"
    )
    via_csi = BamSource().read(spark, staged, intervals=intervals)
    no_index = BamSource().read(spark, BAM, intervals=intervals)  # residual only
    key = lambda r: (r.qname, r.flag, r.pos)
    a = sorted(map(key, via_csi.collect()))
    b = sorted(map(key, no_index.collect()))
    assert a == b and len(a) > 0


def test_csi_agrees_with_bai_ranges_at_classic_geometry(tmp_path):
    """At (14, 5) the chunk query through CSI must admit the same records
    as BAI — and actually prune bytes."""
    from disq_original_spark.sources.bai import create_bai
    from disq_original_spark.sources.fsio import fs_size, get_fs
    from disq_original_spark.sources.headers import read_bam_header
    from disq_original_spark.sources.tabix import index_chunks, merge_ranges

    staged = str(tmp_path / "1.bam")
    shutil.copy(BAM, staged)
    create_bai(staged)
    create_csi_for_bam(staged)
    names = [r[0] for r in read_bam_header(staged)[1]]
    ivs = [(names[0], 24_800_000, 24_860_000)]

    def ranges(sidecar):
        return merge_ranges(index_chunks(get_fs(staged), staged, fs_size(staged), ivs, names, (sidecar,)))

    rb = ranges(".bai")
    rc = ranges(".csi")
    assert rb and rc
    # same chunk set modulo the linear clamp (CSI's folded loffset may be a
    # weaker lower bound): every BAI range is contained in some CSI range
    for u, v in rb:
        assert any(cu <= u and v <= cv for cu, cv in rc)
    # and the CSI ranges really prune: far less than the whole file
    spanned = sum((v >> 16) - (u >> 16) for u, v in rc)
    assert spanned < fs_size(staged) // 2


def test_vcf_interval_read_via_csi_matches_tabix(spark, tmp_path):
    from disq_original_spark.sources.vcf import VcfSource

    staged = str(tmp_path / "h.vcf.bgz")
    shutil.copy(HISEQ, staged)  # .tbi NOT staged -> csi path must engage
    create_csi_for_vcf(staged)
    idx = parse_csi(staged + ".csi")
    assert idx.names and idx.names[0] == "chr1"  # tabix-flavored aux decoded
    intervals = spark.createDataFrame(
        [("chr1", 2_700_000, 2_800_000)], "contig string, start long, end long"
    )
    via_csi = VcfSource().read(spark, staged, intervals=intervals)
    via_tbi = VcfSource().read(spark, HISEQ, intervals=intervals)  # reference .tbi
    key = lambda r: (r.contig, r.pos, r.ref)
    a = sorted(map(key, via_csi.collect()))
    b = sorted(map(key, via_tbi.collect()))
    assert a == b and len(a) > 0
