"""Indexed region reads, hermetic: every input is built here from the
committed twins in ``fixtures/oracle/`` through the repo's own sinks.

- A region read (BGZF VCF + ``.tbi`` or tabix ``.csi``, plain VCF +
  Tribble ``.idx``, BAM + ``.bai`` or ``.csi``, with and without a
  ``.sbi``) equals a brute-force overlap over the full read of the same
  file, as exact multisets, with no row duplicated, under 16 KiB, 64 KiB
  and the default split size, including a window that straddles a split
  boundary.  Reading every window at every split size takes ~6 min on 4
  cores, so that sweep is opt-in (``-m slow``); the default run reads all
  windows in one read per split size, plus one single window per size.
- The indexed sources (BAM, CRAM, VCF, BCF) evaluate the caller's interval
  frame exactly once per region read.
- ``clip_ranges`` is the intersection of sorted disjoint ranges with a
  split; a VCF task reads index ranges closer than ``_SEEK_GAP`` as one,
  and the BGZF block scan finds a block however short the range it scans.
"""

from __future__ import annotations

import re
import shutil
from collections import Counter
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from disq_original_spark.sources.bam import READS_SCHEMA, BamSink
from disq_original_spark.sources.bcf import _variants_schema
from disq_original_spark.sources.csi import create_csi_for_bam, create_csi_for_vcf
from disq_original_spark.sources.headers import SamHeader
from disq_original_spark.sources.tabix import clip_ranges, merge_ranges
from disq_original_spark.storage import ReadsStorage, VariantsStorage

from .twins import (
    CRAM_HEADER,
    cram_reads,
    frame,
    reads_header,
    reads_rows,
    seeded_fasta,
    sorted_reads,
    variants,
)

SPLITS = (16 * 1024, 64 * 1024, None)  # None: the source's default
N_WINDOWS = 20
_CIGAR_OP = re.compile(r"(\d+)([MIDNSHP=X])")
IV_SCHEMA = "contig string, start long, end long"


def _ref_len(cigar: str) -> int:
    return sum(int(n) for n, op in _CIGAR_OP.findall(cigar or "") if op in "MDN=X")


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """BAM + .bai, BGZF VCF + .tbi, plain VCF + .idx, BCF + .csi,
    and a CRAM + .crai over a small FASTA, all written by the repo's sinks;
    and copies of the BAM and the BGZF VCF beside a ``.csi`` alone, from
    the ``.csi`` builders."""
    d = tmp_path_factory.mktemp("region")
    reads = sorted_reads()
    header = reads_header()
    paths = {"bam": str(d / "r.bam"), "bam_sbi": str(d / "r_sbi.bam")}
    # no .sbi: its 4096-record granularity would leave most 16 KiB splits
    # empty; the record guesser cuts the BAM at every split
    reads_df = frame(spark, reads_rows(reads), READS_SCHEMA).coalesce(1)
    BamSink().write(reads_df, header, paths["bam"], write_sbi=False, write_bai=True)
    # with the .sbi, a split owns the records from its first entry on
    BamSink().write(reads_df, header, paths["bam_sbi"], write_sbi=True, write_bai=True)

    # CRAM: the first 300 mapped reads moved onto a 20 kb contig of a
    # seeded FASTA (mismatches against it are stored, not lost)
    fasta = seeded_fasta(d)
    paths["cram"] = str(d / "r.cram")
    ReadsStorage(spark, reference_path=fasta).write(
        frame(spark, reads_rows(cram_reads(reads)), READS_SCHEMA).coalesce(1), paths["cram"],
        SamHeader.parse(CRAM_HEADER),
        write_index=True,
    )

    vrows, vheader = variants()
    vdf = frame(spark, vrows, _variants_schema()).coalesce(1)
    for fmt, name in (("vcf", "v.vcf.bgz"), ("text", "v.vcf"), ("bcf", "v.bcf")):
        paths[fmt] = str(d / name)
        VariantsStorage(spark).write(vdf, paths[fmt], vheader, write_index=True)
    for src, name, build in (("bam", "r_csi.bam", create_csi_for_bam), ("vcf", "v_csi.vcf.bgz", create_csi_for_vcf)):
        paths[f"{src}_csi"] = str(d / name)
        shutil.copy(paths[src], paths[f"{src}_csi"])
        build(paths[f"{src}_csi"])
    for p, idx in (("bam", ".bai"), ("bam_sbi", ".sbi"), ("cram", ".crai"), ("vcf", ".tbi"), ("text", ".idx"),
                   ("bcf", ".csi"), ("bam_csi", ".csi"), ("vcf_csi", ".csi")):
        assert Path(paths[p] + idx).is_file(), (p, idx)
    assert not Path(paths["bam_csi"] + ".bai").exists() and not Path(paths["vcf_csi"] + ".tbi").exists()
    return {"paths": paths, "fasta": fasta}


def _key(v):
    """Hashable, order-canonical form of a collected cell or row."""
    if isinstance(v, dict):
        return tuple(sorted((k, _key(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_key(x) for x in v)
    return v


def _read(spark, fmt, path, split, intervals=None):
    if fmt == "bam":
        return ReadsStorage(spark, split_size=split).read(path, intervals=intervals)
    return VariantsStorage(spark, split_size=split).read(path, intervals=intervals)


def _span(fmt, row) -> tuple[str | None, int, int] | None:
    """(contig, start, end) a region read matches on; None for a read the
    region read never returns (unplaced-unmapped)."""
    if fmt != "bam":
        return row["contig"], row["pos"], row["pos"] + len(row["ref"]) - 1
    if row["flag"] & 4 and (row["rname"] is None or row["pos"] == 0):
        return None
    n = 0 if row["cigar"] in (None, "*") else _ref_len(row["cigar"])
    return row["rname"], row["pos"], row["pos"] + max(n, 1) - 1


def _brute(fmt, full, windows):
    out = []
    for row in full:
        sp = _span(fmt, row)
        if sp is not None and any(
            sp[0] == c and sp[1] <= e and sp[2] >= s for c, s, e in windows
        ):
            out.append(_key(row))
    return Counter(out)


def _windows(rows, fmt, n, seed):
    """``n`` windows of log-uniform length 1 kb–100 kb, each centred on a
    seeded record."""
    rng = np.random.default_rng(seed)
    out = []
    for i in rng.integers(0, len(rows), n):
        c, p, _ = _span(fmt, rows[i])
        half = int(10 ** rng.uniform(3, 5)) // 2
        out.append((c, max(1, p - half), p + half))
    return out


def _differential(spark, path, fmt, every_window):
    """Region reads of ``path`` against a brute-force overlap over its full
    read.  Always: a window straddling a 16 KiB split boundary, all windows
    in one read at each split size, and one single window per split size;
    ``every_window`` reads each window at each size."""
    by_part = (
        _read(spark, fmt, path, SPLITS[0])
        .withColumn("_part", F.spark_partition_id())
        .collect()
    )
    full = [r.asDict(recursive=True) for r in by_part]
    for r in full:
        r.pop("_part")
    assert len(set(map(_key, full))) == len(full)  # precondition: rows unique
    part = [r["_part"] for r in by_part]
    assert len(set(part)) > 4, "16 KiB splits must cut the file into many tasks"

    windows = _windows(full, fmt, N_WINDOWS, seed=404)
    # one window across the second boundary between 16 KiB tasks
    i = [k for k in range(1, len(part)) if part[k] != part[k - 1]][1]
    a, b = _span(fmt, full[i - 1]), _span(fmt, full[i])
    straddle = (a[0], min(a[2], b[1]), max(a[2], b[1]))
    hit = {p for r, p in zip(full, part) if _brute(fmt, [r], [straddle])}
    assert {part[i - 1], part[i]} <= hit

    checks = [(SPLITS[0], [straddle])] + [(split, windows) for split in SPLITS]
    if every_window:
        checks += [(split, [w]) for split in SPLITS for w in windows]
    else:
        checks += [(SPLITS[k], [w]) for k, w in enumerate(windows[: len(SPLITS)])]
    for split, ws in checks:
        iv = spark.createDataFrame(ws, IV_SCHEMA)
        rows = _read(spark, fmt, path, split, iv).collect()
        got = Counter(_key(r.asDict(recursive=True)) for r in rows)
        want = _brute(fmt, full, ws)
        assert max(got.values(), default=1) == 1, f"duplicated rows: {fmt} {split} {ws}"
        assert got == want, f"{fmt} split={split} {ws}: {len(rows)} vs {sum(want.values())}"


@pytest.mark.parametrize("name", ["bam", "bam_csi", "vcf", "vcf_csi", "text"])
def test_region_read_equals_brute_force_overlap(spark, inputs, name):
    _differential(spark, inputs["paths"][name], name.split("_")[0], every_window=False)


@pytest.mark.slow
@pytest.mark.parametrize("fmt", ["bam", "vcf", "text"])
def test_region_read_equals_brute_force_overlap_every_window(spark, inputs, fmt):
    _differential(spark, inputs["paths"][fmt], fmt, every_window=True)


def test_region_read_with_sbi_equals_brute_force_overlap(spark, inputs):
    """With a ``.sbi`` a BAM split owns the records from its first SBI
    entry to the next split's first entry, past its own byte end (entries
    are 4096 records apart): at 16 KiB splits a region read still returns
    every overlapping read exactly once."""
    path = inputs["paths"]["bam_sbi"]
    full = [r.asDict(recursive=True) for r in _read(spark, "bam", path, SPLITS[0]).collect()]
    windows = _windows(full, "bam", 6, seed=405)
    for ws in [windows] + [[w] for w in windows]:
        iv = spark.createDataFrame(ws, IV_SCHEMA)
        rows = _read(spark, "bam", path, SPLITS[0], iv).collect()
        got = Counter(_key(r.asDict(recursive=True)) for r in rows)
        assert got == _brute("bam", full, ws), f"{ws}: {len(rows)} rows"


def test_region_read_seeks_index_chunks(spark, inputs):
    """At the default split one task owns the whole file; with a 1 kb
    window it decodes only the index chunks, not every line of its split
    (BGZF + .tbi, and plain text + Tribble .idx)."""
    from disq_original_spark.sources.vcf import _read_bgzf_lines, _read_text_lines

    split = 128 * 1024 * 1024
    ivs = [("chr1", 100_000, 101_000)]
    bgz, text = inputs["paths"]["vcf"], inputs["paths"]["text"]
    for every, seeked in (
        (_read_bgzf_lines(spark, bgz, split), _read_bgzf_lines(spark, bgz, split, ivs)),
        (_read_text_lines(spark, [text], split, None), _read_text_lines(spark, [text], split, ivs)),
    ):
        assert seeked.rdd.getNumPartitions() == 1
        assert 0 < seeked.count() < every.count() // 4


@pytest.mark.parametrize("fmt", ["bam", "cram", "vcf", "bcf"])
def test_region_read_evaluates_interval_frame_once(spark, inputs, fmt):
    """The caller's interval frame is evaluated once per region read: the
    indexed source collects it for planning and builds the residual filter
    from those rows, as a JVM-local table broadcast into the left-semi
    join."""
    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def bump(row):
        seen.add(1)
        return row

    variant_ivs = [("chr1", 100_000, 120_000), ("chr1", 2_000_000, 2_001_000)]
    ivs = {
        "bam": [("1", 24_800_000, 24_810_000), ("1", 24_900_000, 24_901_000)],
        "cram": [("c1", 100, 2_000), ("c1", 5_000, 6_000)],
        "vcf": variant_ivs,
        "bcf": variant_ivs,
    }[fmt]
    iv = spark.createDataFrame(sc.parallelize(ivs, 2).map(bump), IV_SCHEMA)
    path = inputs["paths"][fmt]
    if fmt in ("bam", "cram"):
        df = ReadsStorage(spark, reference_path=inputs["fasta"]).read(path, intervals=iv)
    else:
        df = VariantsStorage(spark).read(path, intervals=iv)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan [_i_contig" in plan
    assert df.collect()
    assert seen.value == len(ivs)


def test_datasource_bam_plans_with_the_bam_planner(spark, inputs, tmp_path):
    """``format("bam")`` plans with ``BamSource``'s planner: the ``.sbi``
    path reads every record once, an interval set that meets no ``.bai``
    range (here it names no header contig) reads no row, and a truncated
    BAM whose intact ``.bai`` points past its end is refused."""
    import json
    import shutil

    from disq_original_spark.sources.datasource import register_datasources

    register_datasources(spark)

    def read(path, ivs):
        return spark.read.format("bam").option("intervals", json.dumps(ivs)).load(path)

    sbi = spark.read.format("bam").option("splitSize", 16 * 1024).load(inputs["paths"]["bam_sbi"])
    assert sbi.count() == 4917
    path = inputs["paths"]["bam"]
    assert read(path, [["nosuch", 1, 100]]).count() == 0
    assert 0 < read(path, [["1", 24_800_000, 24_810_000]]).count() < 4917
    cut = tmp_path / "cut.bam"
    cut.write_bytes(Path(path).read_bytes()[: Path(path).stat().st_size // 2])
    shutil.copy(path + ".bai", str(cut) + ".bai")
    with pytest.raises(Exception, match="past end-of-file"):
        read(str(cut), [["1", 1, 100_000_000]]).count()


def test_clip_ranges_is_the_intersection():
    rng = np.random.default_rng(11)
    for _ in range(300):
        raw = [tuple(sorted(rng.integers(0, 200, 2))) for _ in range(rng.integers(0, 8))]
        ranges = merge_ranges([(u, v) for u, v in raw if u < v])
        lo, hi = sorted(int(x) for x in rng.integers(0, 200, 2))
        out = clip_ranges(lo, hi, ranges)
        assert all(lo <= a < b <= hi for a, b in out)
        assert all(b1 < a2 for (_a1, b1), (a2, _b2) in zip(out, out[1:]))
        covered = {x for a, b in out for x in range(a, b)}
        assert covered == {x for u, v in ranges for x in range(u, v) if lo <= x < hi}


def test_split_tasks_read_close_ranges_as_one():
    from disq_original_spark.sources.vcf import _SEEK_GAP, _split_tasks

    rng = np.random.default_rng(12)
    split, flen = 3 * _SEEK_GAP, 20 * _SEEK_GAP
    for _ in range(200):
        cuts = sorted({int(x) for x in rng.integers(0, flen, 2 * rng.integers(0, 12))})
        ranges = list(zip(cuts[::2], cuts[1::2]))
        tasks = _split_tasks([("f", flen, ranges)], split)
        covered = set()
        for f, parts in tasks:
            s = parts[0][0] // split * split
            assert f == "f" and all(s <= a < b <= s + split for a, b in parts)
            assert all(a2 - b1 >= _SEEK_GAP for (_a1, b1), (a2, _b2) in zip(parts, parts[1:]))
            assert all(clip_ranges(a, b, ranges) for a, b in parts)
            covered |= {(a, b) for a, b in parts}
        # every range byte lies in exactly one task's parts
        for u, v in ranges:
            for x in {u, v - 1, (u + v) // 2}:
                assert sum(a <= x < b for a, b in covered) == 1
        # splits no range reaches get no task
        assert len(tasks) == len({x // split for u, v in ranges for x in range(u, v)})
    assert _split_tasks([("f", 100, None)], 40) == [("f", [(0, 40)]), ("f", [(40, 80)]), ("f", [(80, 100)])]


def test_find_next_block_on_short_ranges(tmp_path):
    """A block starting in ``[start, end)`` is found however short the range
    and wherever a scan chunk edge falls; none is found past ``end``."""
    from disq_original_spark.sources.bgzf import BgzfWriter, enumerate_blocks, find_next_block

    path = tmp_path / "b.gz"
    rng = np.random.default_rng(13)
    with open(path, "wb") as raw, BgzfWriter(raw) as w:
        for _ in range(6):
            w.write(b"".join(b"line %d\n" % x for x in rng.integers(0, 1 << 30, 400)))
            w.flush_block()
    with open(path, "rb") as fh:
        starts = [b.pos for b in enumerate_blocks(fh)][1:]
        for p in starts:
            for length in (1, 2, 3, 4, 100):
                assert find_next_block(fh, p, p + length).pos == p
            for back in range(0, 12):
                assert find_next_block(fh, p - back, p + 1, chunk=5).pos == p
            assert find_next_block(fh, p - 3, p) is None
