"""Indexed region reads, hermetic: every input is built here from the
committed twins in ``fixtures/oracle/`` through the repo's own sinks.

- A region read (BGZF VCF + ``.tbi`` or tabix ``.csi``, plain VCF with and
  without a Tribble ``.idx``, true-gzip VCF, BCF + ``.csi``, BAM + ``.bai``
  or ``.csi``, with and without a ``.sbi``, CRAM + ``.crai``, plain and
  true-gzip SAM) equals a
  brute-force overlap over the full read of the same file, as exact
  multisets, with no row duplicated, under 16 KiB, 64 KiB and the default
  split size (CRAM: 1 KiB and 4 KiB, one container a task), including a
  window that straddles a split boundary and one-base windows on and
  beside records' first and last bases.  Symbolic alleles span to their
  INFO ``END`` (the last one on a line; an empty ``END=`` falls back to
  the REF span); ``include_unplaced`` adds the unplaced-unmapped reads.
  The SAM holds two lenient-kept malformed lines (a flag that does not
  cast): a NULL flag is never unplaced, and the line is placed only with
  an ``rname`` and a ``pos`` other than 0, as the SQL traversal has it.
  Reading every window at every split size takes ~6 min on 4 cores, so
  that sweep is opt-in (``-m slow``); the default run reads all windows in
  one read per split size, plus one single window per size.
- The indexed sources (BAM, CRAM, VCF, BCF) evaluate the caller's interval
  frame exactly once per region read, plan no join, and run two jobs: the
  caller's frame, then the scan.  The decode tasks apply the overlap test.
- Under ``strict`` a malformed line the index chunks hold outside the
  window still raises; ``lenient`` and ``silent`` return the rows of
  filtering their full read.  ``interval.try_long`` is Spark's
  ``try_cast(... AS bigint)`` and ``interval.try_double`` its
  ``try_cast(... AS double)``.
- VCF and SAM reads of every encoding, whole-file and region, parse their
  lines in the decode task: no text scan, no join, no ``Filter``/``Project``
  in the plan.
- ``clip_ranges`` is the intersection of sorted disjoint ranges with a
  split; a VCF task reads index ranges closer than ``SEEK_GAP`` as one,
  and the BGZF block scan finds a block however short the range it scans.
"""

from __future__ import annotations

import gzip
import re
import shutil
from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from disq_original_spark.sources.bam import READS_SCHEMA, BamSink
from disq_original_spark.sources.sam import SamSink, SamSource
from disq_original_spark.sources.bgzf import EMPTY_GZIP_BLOCK, compress_blocks
from disq_original_spark.sources.csi import create_csi_for_bam, create_csi_for_vcf
from disq_original_spark.sources.headers import SamHeader
from disq_original_spark.sources.tabix import clip_ranges, create_tabix_index, merge_ranges
from disq_original_spark.sources.tribble import create_tribble_index
from disq_original_spark.sources.vcf import VARIANTS_SCHEMA
from disq_original_spark.storage import ReadsStorage, VariantsStorage

from .twins import (
    CRAM_HEADER,
    cram_reads,
    frame,
    reads_header,
    reads_rows,
    seeded_fasta,
    sorted_reads,
    unplaced_reads,
    variants,
)

SPLITS = (16 * 1024, 64 * 1024, None)  # None: the source's default
CRAM_SPLITS = (1024, 4 * 1024, None)
N_WINDOWS = 20
N_UNPLACED = 6
READS = ("bam", "cram", "sam")
_CIGAR_OP = re.compile(r"(\d+)([MIDNSHP=X])")
IV_SCHEMA = "contig string, start long, end long"


def _ref_len(cigar: str) -> int:
    return sum(int(n) for n, op in _CIGAR_OP.findall(cigar or "") if op in "MDN=X")


def _bgzip(text: str, path: Path) -> None:
    path.write_bytes(compress_blocks(text.encode()) + EMPTY_GZIP_BLOCK)


def _symbolic_ends(text: str) -> str:
    """Every 5th record of the VCF ``text`` turned into a symbolic
    ``<DEL>`` whose INFO has an ``END`` 10 b to 3 Mb on — far enough to
    leave its record's BGZF block: one ``END``, two (the last one wins;
    the first lies before it, then after it), or an empty ``END=`` (no
    end: the REF span)."""
    rng = np.random.default_rng(406)
    out, k = [], 0
    for line in text.splitlines(keepends=True):
        if not line.startswith("#"):
            f = line.rstrip("\n").split("\t")
            if k % 5 == 0:
                pos = int(f[1])
                near, far = sorted(pos + int(10 ** x) for x in rng.uniform(1, 6.5, 2))
                f[4] = "<DEL>"
                f[7] = [
                    f"END={far};{f[7]}",
                    f"END={near};{f[7]};END={far}",
                    f"{f[7]};END=",
                    f"END={far};{f[7]};END={near}",
                ][k // 5 % 4]
            k += 1
            line = "\t".join(f) + "\n"
        out.append(line)
    return "".join(out)


def _with_malformed(text: str) -> str:
    """The SAM ``text`` with two lines mid-file whose flag does not cast,
    which ``lenient`` keeps with a NULL flag: one at the position of the
    read before it, one at ``pos`` 0."""
    lines = text.splitlines(keepends=True)
    mid = len(lines) // 2
    f = lines[mid].split("\t")
    bad = [
        "\t".join([name, "0x10", f[2], pos, "60", "50M", "*", "0", "0", "*", "*"]) + "\n"
        for name, pos in (("malformed_placed", f[3]), ("malformed_pos0", "0"))
    ]
    return "".join(lines[: mid + 1] + bad + lines[mid + 1 :])


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """BAM + .bai (its reads plus ``N_UNPLACED`` unplaced ones), BGZF VCF +
    .tbi, plain VCF + .idx, BCF + .csi, and a CRAM + .crai over a small
    FASTA, all written by the repo's sinks; copies of the BAM and the BGZF
    VCF beside a ``.csi`` alone, from the ``.csi`` builders; the plain VCF
    without its ``.idx`` and as true gzip; and the VCF with symbolic
    alleles (:func:`_symbolic_ends`) as BGZF + .tbi and plain text + .idx,
    from the post-hoc index builders; the BAM's reads as SAM, plain and
    true gzip, with two malformed lines (:func:`_with_malformed`)."""
    d = tmp_path_factory.mktemp("region")
    reads = sorted_reads()
    header = reads_header()
    paths = {"bam": str(d / "r.bam"), "bam_sbi": str(d / "r_sbi.bam")}
    # no .sbi: its 4096-record granularity would leave most 16 KiB splits
    # empty; the record guesser cuts the BAM at every split.  Unplaced
    # reads sort last, as in a coordinate-sorted BAM.
    placed_and_unplaced = reads_rows(pd.concat([reads, unplaced_reads(reads, N_UNPLACED)]))
    BamSink().write(
        frame(spark, placed_and_unplaced, READS_SCHEMA).coalesce(1), header, paths["bam"],
        write_sbi=False, write_bai=True,
    )
    # with the .sbi, a split owns the records from its first entry on
    reads_df = frame(spark, reads_rows(reads), READS_SCHEMA).coalesce(1)
    BamSink().write(reads_df, header, paths["bam_sbi"], write_sbi=True, write_bai=True)

    sam = d / "r.sam"
    SamSink().write(frame(spark, placed_and_unplaced, READS_SCHEMA).coalesce(1), header, str(sam))
    sam.write_text(_with_malformed(sam.read_text()))
    paths["sam"], paths["sam_gz"] = str(sam), str(d / "r.sam.gz")
    Path(paths["sam_gz"]).write_bytes(gzip.compress(sam.read_bytes()))

    # CRAM: the first 300 mapped reads moved onto a 20 kb contig of a
    # seeded FASTA (mismatches against it are stored, not lost), spread
    # 60-fold so windows select among them, then the unplaced reads; one
    # container per partition, eight contiguous partitions
    fasta = seeded_fasta(d)
    paths["cram"] = str(d / "r.cram")
    spread = cram_reads(reads)
    spread["pos"] = (spread["pos"] - 1) * 60 + 1
    rows = reads_rows(pd.concat([spread, unplaced_reads(reads, N_UNPLACED)]))
    ReadsStorage(spark, reference_path=fasta).write(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), READS_SCHEMA),
        paths["cram"], SamHeader.parse(CRAM_HEADER), write_index=True,
    )

    vrows, vheader = variants()
    vdf = frame(spark, vrows, VARIANTS_SCHEMA).coalesce(1)
    for fmt, name in (("vcf", "v.vcf.bgz"), ("text", "v.vcf"), ("bcf", "v.bcf")):
        paths[fmt] = str(d / name)
        VariantsStorage(spark).write(vdf, paths[fmt], vheader, write_index=True)
    for src, name, build in (("bam", "r_csi.bam", create_csi_for_bam), ("vcf", "v_csi.vcf.bgz", create_csi_for_vcf)):
        paths[f"{src}_csi"] = str(d / name)
        shutil.copy(paths[src], paths[f"{src}_csi"])
        build(paths[f"{src}_csi"])
    text = Path(paths["text"]).read_text()
    paths["text_noidx"] = str(d / "v_noidx.vcf")
    Path(paths["text_noidx"]).write_text(text)
    paths["gz"] = str(d / "v.vcf.gz")
    Path(paths["gz"]).write_bytes(gzip.compress(text.encode()))
    sv = _symbolic_ends(text)
    paths["sv"], paths["sv_text"] = str(d / "sv.vcf.bgz"), str(d / "sv.vcf")
    _bgzip(sv, Path(paths["sv"]))
    create_tabix_index(paths["sv"])
    Path(paths["sv_text"]).write_text(sv)
    create_tribble_index(paths["sv_text"])
    for p, idx in (("bam", ".bai"), ("bam_sbi", ".sbi"), ("cram", ".crai"), ("vcf", ".tbi"), ("text", ".idx"),
                   ("bcf", ".csi"), ("bam_csi", ".csi"), ("vcf_csi", ".csi"), ("sv", ".tbi"), ("sv_text", ".idx")):
        assert Path(paths[p] + idx).is_file(), (p, idx)
    assert not Path(paths["bam_csi"] + ".bai").exists() and not Path(paths["vcf_csi"] + ".tbi").exists()
    assert not Path(paths["text_noidx"] + ".idx").exists()
    return {"paths": paths, "fasta": fasta}


def _kind(name: str) -> str:
    """``bam``/``cram``/``sam`` for a reads input, ``vcf`` for a variants
    one."""
    kind = name.split("_")[0]
    return kind if kind in READS else "vcf"


def _key(v):
    """Hashable, order-canonical form of a collected cell or row."""
    if isinstance(v, dict):
        return tuple(sorted((k, _key(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_key(x) for x in v)
    return v


def _read(spark, inputs, name, split, intervals=None, include_unplaced=False, **kw):
    path = inputs["paths"][name]
    if _kind(name) == "sam":
        # ReadsStorage takes a SAM by its extension: not a .sam.gz
        return SamSource().read(spark, path, intervals, include_unplaced, split_size=split, **kw)
    if _kind(name) in READS:
        storage = ReadsStorage(spark, reference_path=inputs["fasta"], split_size=split)
        return storage.read(path, intervals=intervals, include_unplaced=include_unplaced, **kw)
    return VariantsStorage(spark, split_size=split, **kw).read(path, intervals=intervals)


def _span(kind, row) -> tuple[str | None, int, int] | None:
    """(contig, start, end) a region read matches on; None for a read the
    region read returns only with ``include_unplaced`` (unplaced-unmapped).
    A variant ends at its INFO ``END`` when that is a number (the parsed
    map holds the line's last ``END``), else at its REF allele's end.  A
    read with a NULL flag (a lenient-kept SAM line) is never unplaced, and
    without an ``rname`` or at ``pos`` 0 or NULL it matches no window
    (contig None)."""
    if kind not in READS:
        end = (row["info"] or {}).get("END")
        if end and re.fullmatch(r"-?\d+", end):
            return row["contig"], row["pos"], int(end)
        return row["contig"], row["pos"], row["pos"] + len(row["ref"]) - 1
    if row["flag"] is None:
        if row["rname"] is None or not row["pos"]:
            return None, 0, 0
    elif row["flag"] & 4 and (row["rname"] is None or row["pos"] == 0):
        return None
    n = 0 if row["cigar"] in (None, "*") else _ref_len(row["cigar"])
    return row["rname"], row["pos"], row["pos"] + max(n, 1) - 1


def _brute(kind, full, windows, include_unplaced=False):
    out = []
    for row in full:
        sp = _span(kind, row)
        if include_unplaced if sp is None else any(
            sp[0] == c and sp[1] <= e and sp[2] >= s for c, s, e in windows
        ):
            out.append(_key(row))
    return Counter(out)


def _placed_spans(kind, rows):
    return [sp for sp in (_span(kind, r) for r in rows) if sp is not None and sp[0] is not None]


def _malformed_windows(kind, rows):
    """For SAM, one-base windows on the lenient-kept reads with a NULL
    flag, an ``rname`` and a ``pos``, ``pos`` 0 included; else none."""
    if kind != "sam":
        return []
    out = [(r["rname"], max(r["pos"], 1), max(r["pos"], 1)) for r in rows if r["flag"] is None and r["rname"]]
    assert len(out) == 2
    return out


def _windows(rows, kind, n, seed, decades=(3, 5)):
    """``n`` windows of log-uniform length ``10**decades[0]``–
    ``10**decades[1]`` bases, each centred on a seeded placed record."""
    rng = np.random.default_rng(seed)
    spans = _placed_spans(kind, rows)
    out = []
    for i in rng.integers(0, len(spans), n):
        c, p, _ = spans[i]
        half = int(10 ** rng.uniform(*decades)) // 2
        out.append((c, max(1, p - half), p + half))
    return out


def _edge_windows(rows, kind, n, seed):
    """One-base windows on the first and the last base of ``n`` seeded
    records (of those spanning more than one base, if any), and on the
    bases just outside them."""
    rng = np.random.default_rng(seed)
    spans = _placed_spans(kind, rows)
    spans = [sp for sp in spans if sp[2] > sp[1]] or spans
    out = []
    for i in rng.integers(0, len(spans), n):
        c, s, e = spans[i]
        out += [(c, s, s), (c, e, e), (c, max(1, s - 1), max(1, s - 1)), (c, e + 1, e + 1)]
    return out


def _differential(spark, inputs, name, every_window, tiled=True):
    """Region reads of input ``name`` against a brute-force overlap over its
    full read.  Always: all windows in one read at each split size, one
    single window per split size, and the edge windows at each size; when
    the full read is ``tiled`` into many tasks, also a window straddling
    the boundary between two of them; ``every_window`` reads each window
    at each size."""
    kind = _kind(name)
    splits = CRAM_SPLITS if kind == "cram" else SPLITS
    by_part = _read(spark, inputs, name, splits[0]).withColumn("_part", F.spark_partition_id()).collect()
    full = [r.asDict(recursive=True) for r in by_part]
    for r in full:
        r.pop("_part")
    assert len(set(map(_key, full))) == len(full)  # precondition: rows unique

    decades = (1, 3.5) if kind == "cram" else (3, 5)
    windows = _windows(full, kind, N_WINDOWS, seed=404, decades=decades)
    checks = [(split, windows) for split in splits]
    checks += [(split, _edge_windows(full, kind, 5, seed=408)) for split in splits]
    checks += [(split, _malformed_windows(kind, full)) for split in splits if kind == "sam"]
    if tiled:
        part = [r["_part"] for r in by_part]
        assert len(set(part)) >= 4, "the smallest split must cut the file into many tasks"
        # one window across the second boundary between tasks
        i = [k for k in range(1, len(part)) if part[k] != part[k - 1]][1]
        a, b = _span(kind, full[i - 1]), _span(kind, full[i])
        straddle = (a[0], min(a[2], b[1]), max(a[2], b[1]))
        hit = {p for r, p in zip(full, part) if _brute(kind, [r], [straddle])}
        assert {part[i - 1], part[i]} <= hit
        checks.append((splits[0], [straddle]))
    if every_window:
        checks += [(split, [w]) for split in splits for w in windows]
    else:
        checks += [(splits[k], [w]) for k, w in enumerate(windows[: len(splits)])]
    for split, ws in checks:
        iv = spark.createDataFrame(ws, IV_SCHEMA)
        rows = _read(spark, inputs, name, split, iv).collect()
        got = Counter(_key(r.asDict(recursive=True)) for r in rows)
        want = _brute(kind, full, ws)
        assert max(got.values(), default=1) == 1, f"duplicated rows: {name} {split} {ws}"
        assert got == want, f"{name} split={split} {ws}: {len(rows)} vs {sum(want.values())}"


@pytest.mark.parametrize(
    "name",
    ["bam", "bam_csi", "cram", "vcf", "vcf_csi", "text", "text_noidx", "bcf", "sv", "sv_text", "sam", "sam_gz"],
)
def test_region_read_equals_brute_force_overlap(spark, inputs, name):
    """True gzip (``sam_gz``) is one task per file, with no split boundary
    to straddle."""
    _differential(spark, inputs, name, every_window=False, tiled=name != "sam_gz")


def test_gzip_region_read_equals_brute_force_overlap(spark, inputs):
    """True gzip is one task per file (not splittable), so it has no split
    boundary to straddle."""
    _differential(spark, inputs, "gz", every_window=False, tiled=False)


@pytest.mark.slow
@pytest.mark.parametrize("name", ["bam", "cram", "vcf", "text", "bcf", "sv"])
def test_region_read_equals_brute_force_overlap_every_window(spark, inputs, name):
    _differential(spark, inputs, name, every_window=True)


@pytest.mark.parametrize("name", [*READS, "sam_gz"])
def test_region_read_with_unplaced_equals_brute_force(spark, inputs, name):
    """``include_unplaced`` adds the unplaced-unmapped reads to the
    overlapping ones, and alone returns only them, at every split size;
    a column-pruned read returns exactly the requested columns, though the
    task decodes the span fields for its test.  For SAM the windows
    include the lenient-kept malformed lines."""
    kind = _kind(name)
    splits = CRAM_SPLITS if name == "cram" else SPLITS
    full = [r.asDict(recursive=True) for r in _read(spark, inputs, name, splits[0]).collect()]
    assert sum(_span(kind, r) is None for r in full) == N_UNPLACED
    decades = (1, 3.5) if name == "cram" else (3, 5)
    windows = _windows(full, kind, 6, seed=407, decades=decades) + _malformed_windows(kind, full)
    iv = spark.createDataFrame(windows, IV_SCHEMA)
    for split in splits:
        for ivs, ws in ((iv, windows), (None, [])):
            rows = _read(spark, inputs, name, split, ivs, include_unplaced=True).collect()
            got = Counter(_key(r.asDict(recursive=True)) for r in rows)
            assert got == _brute(kind, full, ws, include_unplaced=True), f"{name} split={split} {ws}"
    pruned = _read(spark, inputs, name, None, iv, include_unplaced=True, columns=["qname", "seq"])
    assert pruned.columns == ["qname", "seq"]
    want = Counter((dict(k)["qname"], dict(k)["seq"]) for k in _brute(kind, full, windows, True).elements())
    assert Counter(map(tuple, pruned.collect())) == want


def test_region_read_with_sbi_equals_brute_force_overlap(spark, inputs):
    """With a ``.sbi`` a BAM split owns the records from its first SBI
    entry to the next split's first entry, past its own byte end (entries
    are 4096 records apart): at 16 KiB splits a region read still returns
    every overlapping read exactly once."""
    full = [r.asDict(recursive=True) for r in _read(spark, inputs, "bam_sbi", SPLITS[0]).collect()]
    windows = _windows(full, "bam", 6, seed=405)
    for ws in [windows] + [[w] for w in windows]:
        iv = spark.createDataFrame(ws, IV_SCHEMA)
        rows = _read(spark, inputs, "bam_sbi", SPLITS[0], iv).collect()
        got = Counter(_key(r.asDict(recursive=True)) for r in rows)
        assert got == _brute("bam", full, ws), f"{ws}: {len(rows)} rows"


def test_region_read_seeks_index_chunks(inputs):
    """At the default split one task owns the whole file; with a 1 kb
    window it decodes only the index chunks, not every line of its split
    (BGZF + .tbi, and plain text + Tribble .idx).  Counted in the lines
    the task decodes, before its overlap test drops any."""
    from disq_original_spark.sources.tribble import text_line_plan
    from disq_original_spark.sources.vcf import _bgzf_line_plan

    split = 128 * 1024 * 1024
    ivs = [("chr1", 100_000, 101_000)]
    bgz, text = inputs["paths"]["vcf"], inputs["paths"]["text"]

    def decoded(tasks, task_lines) -> int:
        assert len(tasks) == 1
        return sum(1 for t in tasks for _ in task_lines(t))

    for plan in (
        lambda ivs: _bgzf_line_plan(None, bgz, split, ivs),
        lambda ivs: text_line_plan(None, [text], split, ivs),
    ):
        every, seeked = decoded(*plan(None)), decoded(*plan(ivs))
        assert 0 < seeked < every // 4


_FRAME_ONCE_IVS = {
    "bam": [("1", 24_800_000, 24_810_000), ("1", 24_900_000, 24_901_000)],
    "cram": [("c1", 100, 2_000), ("c1", 5_000, 6_000)],
    "vcf": [("chr1", 100_000, 120_000), ("chr1", 2_000_000, 2_001_000)],
    "bcf": [("chr1", 100_000, 120_000), ("chr1", 2_000_000, 2_001_000)],
    "sam": [("1", 24_800_000, 24_810_000), ("1", 24_900_000, 24_901_000)],
}


@pytest.mark.parametrize("name", ["bam", "cram", "vcf", "bcf", "sam"])
def test_region_read_evaluates_interval_frame_once(spark, inputs, name):
    """The caller's interval frame is evaluated once per region read: the
    source collects it for planning, and its decode tasks apply
    the overlap test to those rows, so the plan has no join."""
    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def bump(row):
        seen.add(1)
        return row

    ivs = _FRAME_ONCE_IVS[name]
    iv = spark.createDataFrame(sc.parallelize(ivs, 2).map(bump), IV_SCHEMA)
    df = _read(spark, inputs, name, None, iv)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan
    assert df.collect()
    assert seen.value == len(ivs)


@pytest.mark.parametrize("name", ["bam", "vcf"])
def test_region_read_runs_two_jobs(spark, inputs, name):
    """An indexed BAM and a BGZF VCF region read run two Spark jobs: the
    caller's interval frame, then the scan."""
    sc = spark.sparkContext
    group = f"region_read_jobs_{name}"
    sc.setJobGroup(group, group)
    try:
        iv = spark.createDataFrame(_FRAME_ONCE_IVS[name], IV_SCHEMA)
        rows = _read(spark, inputs, name, None, iv).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


@pytest.mark.parametrize("name", ["vcf", "text_noidx", "gz", "sam", "sam_gz"])
def test_vcf_line_reads_build_rows_in_the_task(spark, inputs, name):
    """Every VCF read, over BGZF, plain text and true gzip, and every SAM
    read, plain and true gzip, whole-file and region, parses its lines in
    the decode task: the executed plan is the one ``MapInArrow`` over the
    seed range, with no ``Filter`` or ``Project`` over a line column, no
    text scan and no join, and its schema is ``VARIANTS_SCHEMA`` or
    ``READS_SCHEMA``."""
    kind = _kind(name)
    iv = spark.createDataFrame(_FRAME_ONCE_IVS[kind], IV_SCHEMA)
    for ivs in (None, iv):
        df = _read(spark, inputs, name, None, ivs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1 and "value#" not in plan and "FileScan" not in plan, plan
        assert "Filter" not in plan and "Project" not in plan, plan
        assert "Join" not in plan and "BroadcastExchange" not in plan, plan
        assert df.schema == (READS_SCHEMA if kind == "sam" else VARIANTS_SCHEMA)
        assert df.collect()


def test_region_read_stringency_on_malformed_line_in_chunk(spark, inputs, tmp_path):
    """A 5-field line sits in the index chunk a window reads but outside
    the window: ``strict`` raises on it, ``lenient`` and ``silent`` return
    the rows of filtering their full read; a window on it returns the
    short row under ``lenient`` only."""
    from disq_original_spark.sources.vcf import _bgzf_line_plan

    lines = Path(inputs["paths"]["text"]).read_text().splitlines(keepends=True)
    body = [i for i, line in enumerate(lines) if not line.startswith("#")]
    # a record mid-file whose next base lies in the same 16 kb tabix window
    i = next(i for i in body[len(body) // 2 :] if int(lines[i].split("\t")[1]) % 16384 < 8000)
    contig, pos = lines[i].split("\t")[0], int(lines[i].split("\t")[1])
    bad = f"{contig}\t{pos}\t.\tA\tT"
    lines.insert(i + 1, bad + "\n")
    path = tmp_path / "bad.vcf.bgz"
    _bgzip("".join(lines), path)
    create_tabix_index(str(path))
    beside, on = (contig, pos + 1, pos + 2_000), (contig, pos, pos)
    tasks, task_lines = _bgzf_line_plan(None, str(path), 1 << 27, [beside])
    assert bad in {line for t in tasks for line in task_lines(t)}

    def read(stringency, window=None):
        ivs = None if window is None else spark.createDataFrame([window], IV_SCHEMA)
        rows = VariantsStorage(spark, stringency=stringency).read(str(path), intervals=ivs).collect()
        return [r.asDict(recursive=True) for r in rows]

    with pytest.raises(Exception, match="malformed record"):
        read("strict", beside)
    for stringency in ("lenient", "silent"):
        full = read(stringency)
        assert sum(r["info"] is None for r in full) == (stringency == "lenient")
        for window in (beside, on):
            got = Counter(map(_key, read(stringency, window)))
            assert got == _brute("vcf", full, [window]), (stringency, window)
    assert any(r["info"] is None for r in read("lenient", on))


def test_try_long_is_sparks_try_cast(spark):
    from disq_original_spark.operators.interval import try_long

    values = [" 12", "+12", "12.0", "1e2", "", "\t12\n", "\x0b5", "-0", "9223372036854775808",
              "1_000", "١٢", "9223372036854775807", "-9223372036854775808",
              "-9223372036854775809", "\x7f5", "5\x7f", "\x855", "\xa05", "+", "-", "1 2"]
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = {r.s: r.v for r in df.selectExpr("s", "try_cast(s AS bigint) AS v").collect()}
    assert {v: try_long(v) for v in values} == got


def test_try_double_is_sparks_try_cast(spark):
    """``interval.try_double`` is Spark's ``try_cast(s AS double)``: Java's
    ``parseDouble`` (type suffixes, hex significands, exact-case
    ``NaN``/``Infinity``, trims only chars <= 0x20) plus Spark's
    any-case ``inf``/``nan`` literals, not Python's ``float()``."""
    import math

    from disq_original_spark.operators.interval import try_double

    values = ["1", " 1", "1d", "1D", "1.5F", "1e5f", "1dd", "0x1p3", "0X1.8P-2d", "-0x.8p1", "0x1p", "0x1",
              "0x", "1_0", "\u0661", "\u0661.5", "1\u3000", "\u20031", "\x7f1", "1\x7f", "\x0b1", "\x001",
              "inf", "INF", "+inf", "-inf", "Infinity", "-Infinity", "+Infinity", "infinity", "-infinity",
              "+infinity", "Infinityd", "infd", "NaN", "nan", "NAN", "-NaN", "+NaN", "-nan", " nan ", "NaNd",
              ".", "", " ", "5.", ".5", "-.5e-3", "1e", "e5", "+1", "++1", "1.2.3", "1 2", "-0", "-0.0",
              "1e400", "-1e400", "1e-400", "4.9e-324", "0x1.fffffffffffff8p1023", "0x1p99999999999999999999",
              "-0x1p99999999999999999999", "0x0p99999999999999999999", "1e99999999999999999999",
              "123456789012345678901234567890", "0.1"]
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = {r.s: r.v for r in df.selectExpr("s", "try_cast(s AS double) AS v").collect()}

    def same(a, b) -> bool:
        if a is None or b is None:
            return a is b
        return (a == b or math.isnan(a) and math.isnan(b)) and math.copysign(1, a) == math.copysign(1, b)

    assert [v for v in values if not same(try_double(v), got[v])] == []


def test_datasource_bam_plans_with_the_bam_planner(spark, inputs, tmp_path):
    """``format("bam")`` plans with ``BamSource``'s planner: the ``.sbi``
    path reads every record once, an interval set that meets no ``.bai``
    range (here it names no header contig) reads no row, a window reads
    exactly the reads the storage API's region read returns, and a
    truncated BAM whose intact ``.bai`` points past its end is refused."""
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
    window = ("1", 24_800_000, 24_810_000)
    exact = Counter(_key(r.asDict(recursive=True)) for r in read(path, [window]).collect())
    iv = spark.createDataFrame([window], IV_SCHEMA)
    assert exact == Counter(_key(r.asDict(recursive=True)) for r in _read(spark, inputs, "bam", None, iv).collect())
    assert 0 < sum(exact.values()) < 4917
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
    from disq_original_spark.sources.tribble import SEEK_GAP, split_tasks

    rng = np.random.default_rng(12)
    split, flen = 3 * SEEK_GAP, 20 * SEEK_GAP
    for _ in range(200):
        cuts = sorted({int(x) for x in rng.integers(0, flen, 2 * rng.integers(0, 12))})
        ranges = list(zip(cuts[::2], cuts[1::2]))
        tasks = split_tasks([("f", flen, ranges)], split)
        covered = set()
        for f, parts in tasks:
            s = parts[0][0] // split * split
            assert f == "f" and all(s <= a < b <= s + split for a, b in parts)
            assert all(a2 - b1 >= SEEK_GAP for (_a1, b1), (a2, _b2) in zip(parts, parts[1:]))
            assert all(clip_ranges(a, b, ranges) for a, b in parts)
            covered |= {(a, b) for a, b in parts}
        # every range byte lies in exactly one task's parts
        for u, v in ranges:
            for x in {u, v - 1, (u + v) // 2}:
                assert sum(a <= x < b for a, b in covered) == 1
        # splits no range reaches get no task
        assert len(tasks) == len({x // split for u, v in ranges for x in range(u, v)})
    assert split_tasks([("f", 100, None)], 40) == [("f", [(0, 40)]), ("f", [(40, 80)]), ("f", [(80, 100)])]


def test_scan_split_is_sparks_file_split():
    """Left at None, a VCF read's split size is Spark's file-scan split at
    its default confs: min(128 MB, max(4 MB, (bytes + 4 MB per file) /
    cores)), so a plain-text read keeps the parallelism of Spark's text
    scan."""
    from types import SimpleNamespace

    from disq_original_spark.sources.tribble import scan_split

    mb = 1 << 20
    spark = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=4))
    assert scan_split(spark, [("a", 20 * mb, None)]) == 6 * mb
    assert scan_split(spark, [("a", 10 * mb, None), ("b", 10 * mb, None)]) == 7 * mb
    assert scan_split(spark, [("a", mb, None)]) == 4 * mb
    assert scan_split(spark, [("a", 4096 * mb, None)]) == 128 * mb
    assert scan_split(None, [("a", 20 * mb, None)]) == 24 * mb


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
