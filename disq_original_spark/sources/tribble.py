"""Plain-text line reading shared by the SAM and VCF sources, and the
Tribble linear index (.idx) for plain-text VCF: parser, builder, and
interval → byte-range query.

Line plans: ``text_line_plan`` cuts plain files into byte-range splits
(``split_tasks``; Spark's file-scan split size when none is given,
``scan_split``) whose tasks yield the lines each range owns
(``iter_text_lines_in_range``), pruned per file by a Tribble ``.idx``
when intervals are given; ``gzip_line_plan`` reads each true-gzip file
whole in one task.  A source turns a plan's lines into rows in the task.

Reference parity: the reference picks the index by format — tabix for
BGZF-compressed VCF, Tribble for plain text — and prunes text splits that
the index proves contain no overlapping feature
(`vcf/VcfSource.java:143-168`,
`tribble/TribbleIndexIntervalFilteringTextInputFormat.java:33-67`).  The
binary layout here follows htsjdk's public v3 format
(``htsjdk.tribble.index.AbstractIndex`` header +
``htsjdk.tribble.index.linear.LinearIndex.ChrIndex`` per-chromosome
records): little-endian, NUL-terminated strings, per-chromosome bins of
fixed genomic width each mapping to the file offset where that bin's
features start.

The builder is the analog of htsjdk's ``LinearIndexCreator`` (default bin
width 8000): feature N's bin is ``(start-1) // binWidth``; a new bin's
block begins at the file offset of the first feature at-or-after it.
"""

from __future__ import annotations

import struct
from collections.abc import Callable
from dataclasses import dataclass

from .fsio import fs_open, get_fs
from .tabix import merge_ranges

TRIBBLE_MAGIC = 1480870228  # "TIDX" little-endian, AbstractIndex.MAGIC_NUMBER
INDEX_TYPE_LINEAR = 1  # IndexType.LINEAR
VERSION = 3
DEFAULT_BIN_WIDTH = 8000  # LinearIndexCreator.DEFAULT_BIN_WIDTH


@dataclass(frozen=True)
class TribbleChrIndex:
    name: str
    bin_width: int
    longest_feature: int
    n_features: int
    starts: tuple[int, ...]  # block start offset per bin
    end: int  # end offset of the last block


@dataclass(frozen=True)
class TribbleIndex:
    chromosomes: dict[str, TribbleChrIndex]

    def blocks(self, contig: str, start: int, end: int) -> list[tuple[int, int]]:
        """Raw byte range(s) containing every feature possibly overlapping
        [start, end] (1-based inclusive) — LinearIndex.ChrIndex.getBlocks
        semantics: one merged block from the start bin's offset to the end
        bin's end."""
        ci = self.chromosomes.get(contig)
        if ci is None or not ci.starts:
            return []
        adjusted = max(start - ci.longest_feature, 0)
        start_bin = adjusted // ci.bin_width
        if start_bin >= len(ci.starts):
            return []
        end_bin = min(max(end - 1, 0) // ci.bin_width, len(ci.starts) - 1)
        block_start = ci.starts[start_bin]
        block_end = (
            ci.starts[end_bin + 1] if end_bin + 1 < len(ci.starts) else ci.end
        )
        return [(block_start, block_end)]


class _Reader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def i32(self) -> int:
        (v,) = struct.unpack_from("<i", self.data, self.pos)
        self.pos += 4
        return v

    def i64(self) -> int:
        (v,) = struct.unpack_from("<q", self.data, self.pos)
        self.pos += 8
        return v

    def string(self) -> str:
        end = self.data.index(b"\x00", self.pos)
        s = self.data[self.pos : end].decode()
        self.pos = end + 1
        return s


def parse_tribble(path: str) -> TribbleIndex:
    """Parse a Tribble linear .idx (htsjdk AbstractIndex v3 layout)."""
    from .fsio import fs_read_bytes

    data = fs_read_bytes(str(path))
    r = _Reader(data)
    magic = r.i32()
    if magic != TRIBBLE_MAGIC:
        raise ValueError(f"{path}: not a Tribble index (magic {magic:#x})")
    idx_type = r.i32()
    if idx_type != INDEX_TYPE_LINEAR:
        raise ValueError(
            f"{path}: unsupported Tribble index type {idx_type} (only linear)"
        )
    version = r.i32()
    if version != VERSION:
        raise ValueError(f"{path}: unsupported Tribble index version {version}")
    r.string()  # indexed file
    r.i64()  # indexed file size
    r.i64()  # timestamp
    r.string()  # md5
    r.i32()  # flags
    n_props = r.i32()
    for _ in range(n_props):
        r.string()
        r.string()
    n_chr = r.i32()
    chromosomes: dict[str, TribbleChrIndex] = {}
    for _ in range(n_chr):
        name = r.string()
        bin_width = r.i32()
        n_bins = r.i32()
        longest = r.i32()
        r.i32()  # largestBlockSize (obsolete in v3)
        n_features = r.i32()
        starts = tuple(r.i64() for _ in range(n_bins))
        end = r.i64()
        chromosomes[name] = TribbleChrIndex(
            name, bin_width, longest, n_features, starts, end
        )
    return TribbleIndex(chromosomes)


def create_tribble_index(
    vcf_path: str, bin_width: int = DEFAULT_BIN_WIDTH
) -> str:
    """Single-pass linear index build for a plain-text VCF (driver-side,
    like ``create_bai``/``create_sbi``) — htsjdk ``LinearIndexCreator``
    semantics: each bin's block starts at the offset of the first feature
    at-or-after the bin.  Writes ``vcf_path + ".idx"`` and returns it."""
    from .fsio import fs_size, fs_write_bytes

    size = fs_size(str(vcf_path))
    chroms: dict[str, dict] = {}

    def chrom_state(name: str) -> dict:
        return chroms.setdefault(
            name, {"starts": [], "longest": 0, "n": 0, "end": 0}
        )

    offset = 0
    with fs_open(str(vcf_path)) as fh:
        for raw in _iter_raw_lines(fh):
            line_start = offset
            # the last line may lack its newline
            offset = min(offset + len(raw) + 1, size)
            line = raw.decode("utf-8", "replace")
            if line.startswith("#") or not line.strip():
                continue
            fields = line.split("\t")
            if len(fields) < 8:
                continue
            contig = fields[0]
            try:
                pos = int(fields[1])
            except ValueError:
                continue
            ref = fields[3]
            end_pos = pos + max(len(ref) - 1, 0)
            info = fields[7]
            for kv in info.split(";"):  # INFO/END extends symbolic alleles
                if kv.startswith("END="):
                    try:
                        end_pos = max(end_pos, int(kv[4:]))
                    except ValueError:
                        pass
            st = chrom_state(contig)
            feature_bin = max(pos - 1, 0) // bin_width
            while len(st["starts"]) <= feature_bin:
                st["starts"].append(line_start)
            st["longest"] = max(st["longest"], end_pos - pos + 1)
            st["n"] += 1
            st["end"] = offset

    out = bytearray()
    out += struct.pack("<iii", TRIBBLE_MAGIC, INDEX_TYPE_LINEAR, VERSION)
    out += str(vcf_path).encode() + b"\x00"
    out += struct.pack("<qq", offset, 0)  # file size, timestamp
    out += b"\x00"  # md5 (empty string)
    out += struct.pack("<ii", 0, 0)  # flags, n_properties
    out += struct.pack("<i", len(chroms))
    for name, st in chroms.items():
        out += name.encode() + b"\x00"
        out += struct.pack(
            "<iiiii", bin_width, len(st["starts"]), st["longest"], 0, st["n"]
        )
        for s in st["starts"]:
            out += struct.pack("<q", s)
        out += struct.pack("<q", st["end"])
    idx_path = str(vcf_path) + ".idx"
    fs_write_bytes(idx_path, bytes(out))
    return idx_path


def text_ranges_for_intervals(
    idx: TribbleIndex, intervals: list[tuple[str, int, int]]
) -> list[tuple[int, int]]:
    """Merged raw byte ranges covering every feature possibly overlapping
    any (contig, start, end) interval — the plain-text analog of
    ``tabix.index_chunks``."""
    raw: list[tuple[int, int]] = []
    for contig, start, end in intervals:
        raw.extend(idx.blocks(contig, start, end))
    return merge_ranges(raw)


_CHUNK = 1 << 20
_MIN_CHUNK = 1 << 16


def _iter_raw_lines(fh, chunk: int = _CHUNK):
    """The lines of a file-like with only ``read`` (plain files, pyarrow
    NativeFile), each without its ``\n``: one ``split`` per chunk, whose
    unfinished last line carries over, in pieces, to the next chunk."""
    carry: list[bytes] = []
    while data := fh.read(chunk):
        lines = data.split(b"\n")
        if len(lines) > 1:
            carry.append(lines[0])
            lines[0] = b"".join(carry)
            carry = []
        carry.append(lines.pop())
        yield from lines
    tail = b"".join(carry)
    if tail:
        yield tail


def iter_text_lines_in_range(fh, start: int, end: int):
    """Yield the lines *owned* by byte range [start, end): a line belongs
    to the range containing its first byte (the standard Hadoop text-split
    ownership rule, so any tiling yields each line exactly once).  The
    final owned line is read to completion past ``end``.

    Reading begins at ``start - 1``; the first raw line is always the
    previous range's — either its unfinished tail, or (when byte start-1 is
    a newline) the empty line that newline ends — so exactly one is
    skipped."""
    if start > 0:
        fh.seek(start - 1)
        pos = start - 1
    else:
        fh.seek(0)
        pos = 0
    skip_first = start > 0
    # a small range (one index block) reads about its own size, not a
    # whole chunk; the loop reads on past ``end`` to finish a line either way
    chunk = min(_CHUNK, max(end - start, _MIN_CHUNK))
    for raw in _iter_raw_lines(fh, chunk):
        line_start = pos
        pos += len(raw) + 1
        if skip_first:
            skip_first = False
            continue
        if line_start >= end:
            break
        yield raw.rstrip(b"\r")


# Spark's spark.sql.files.maxPartitionBytes and openCostInBytes defaults
_MAX_SPLIT = 128 * 1024 * 1024
_OPEN_COST = 4 * 1024 * 1024
# one maximal BGZF block: index ranges closer than this are read as one
SEEK_GAP = 64 * 1024

#: a line plan: the tasks, and the lines (``str``) of one task
LinePlan = tuple[list, Callable]


def scan_split(spark, metas: list[tuple[str, int, object]]) -> int:
    """The split size of Spark's file scan (``FilePartition.maxSplitBytes``)
    at its default confs: the files' bytes, each plus a 4 MB open cost,
    spread over the default parallelism, between 4 MB and 128 MB."""
    cores = spark.sparkContext.defaultParallelism if spark is not None else 1
    total = sum(flen + _OPEN_COST for _f, flen, _r in metas)
    return min(_MAX_SPLIT, max(_OPEN_COST, -(-total // cores)))


def split_tasks(
    metas: list[tuple[str, int, list[tuple[int, int]] | None]], split_size: int
) -> list[tuple[str, list[tuple[int, int]]]]:
    """One task per ``split_size`` byte-range split of each file: ``(file,
    parts)``, where ``parts`` is the whole split, or with an index
    (``franges`` not None) the index ranges clipped to the split.  Splits
    no index range reaches get no task.  Each split still owns the lines
    starting in it, so the clipped parts of all splits tile the index
    ranges exactly once.

    Parts less than ``SEEK_GAP`` apart are read as one: each part start
    reads up to that much beyond its own bytes (a BGZF part probes the
    block before it; a text part reads at least a 64 KiB chunk), so
    seeking past a smaller gap would read more than decoding it.  A task
    thus never reads much more than its whole split, however many
    intervals it serves."""
    from .tabix import clip_ranges

    tasks = []
    for f, flen, franges in metas:
        for s in range(0, flen, split_size):
            e = min(s + split_size, flen)
            parts = [(s, e)] if franges is None else clip_ranges(s, e, franges)
            if not parts:
                continue
            merged = [parts[0]]
            for u, v in parts[1:]:
                if u - merged[-1][1] < SEEK_GAP:
                    merged[-1] = (merged[-1][0], v)
                else:
                    merged.append((u, v))
            tasks.append((f, merged))
    return tasks


def text_line_plan(
    spark,
    files: list[str],
    split_size: int | None,
    ivs: list[tuple[str, int, int]] | None = None,
) -> LinePlan:
    """The plain-text line plan: per-file byte-range splits planned
    driver-side (as a Spark job for many files, ``spark`` None: serially).
    With ``ivs``, each file's own Tribble ``.idx`` raw byte ranges prune
    its splits and clip each remaining task to the ranges inside its
    split, so a task reads only the index blocks it owns, not its whole
    split (``iter_text_lines_in_range`` per range).  A BGZF file among
    ``files`` is refused: a byte-range text reader would yield binary
    garbage from it."""
    from .fsio import collect_metadata

    fs = get_fs(files[0])

    def meta_for(f: str):
        from .bgzf import is_bgzf

        with fs.open_input(f) as fh:
            if is_bgzf(fh):
                raise ValueError(
                    f"{f}: BGZF, but the first file of this input is plain "
                    "text — directory inputs must be compression-homogeneous"
                )
        flen = fs.size(f)
        franges = None
        if ivs is not None and fs.exists(f + ".idx"):
            franges = text_ranges_for_intervals(parse_tribble(f + ".idx"), ivs)
        return (f, flen, franges)

    metas = collect_metadata(spark, files, meta_for)
    tasks = split_tasks(metas, split_size or scan_split(spark, metas))

    def task_lines(task):
        p, parts = task
        with fs.open_input(p) as fh:
            for s, e in parts:
                for line in iter_text_lines_in_range(fh, s, e):
                    yield line.decode("utf-8", "replace")

    return tasks, task_lines


def line_plan(
    spark,
    path: str,
    split_size: int | None,
    ivs: list[tuple[str, int, int]] | None = None,
) -> LinePlan:
    """The line plan of a plain-text or true-gzip input, a file or a
    directory: ``gzip_line_plan`` when a file is ``.gz`` (gzip is not
    splittable: one task per file, as the reference's non-BGZF path,
    `vcf/VcfSource.java:80-86`), else ``text_line_plan``.  The explicit
    file list keeps index sidecars out of a directory read."""
    from .fsio import list_data_files

    files = list_data_files(get_fs(str(path)), str(path))
    if not files:
        raise FileNotFoundError(f"no data files under {path}")
    if any(f.endswith(".gz") for f in files):
        return gzip_line_plan(files)
    return text_line_plan(spark, files, split_size, ivs)


def gzip_line_plan(files: list[str]) -> LinePlan:
    """The true-gzip line plan: one task per file, gunzipped whole (gzip
    is not splittable), cut into lines as the plain-text reader cuts
    them."""

    def task_lines(f: str):
        import gzip

        with fs_open(f) as raw, gzip.open(raw) as fh:
            for line in _iter_raw_lines(fh):
                yield line.rstrip(b"\r").decode("utf-8", "replace")

    return list(files), task_lines
