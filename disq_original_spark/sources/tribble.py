"""Tribble linear index (.idx) for plain-text VCF: parser, builder, and
interval → byte-range query.

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
from dataclasses import dataclass

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
    from .fsio import fs_open, fs_write_bytes

    chroms: dict[str, dict] = {}

    def chrom_state(name: str) -> dict:
        return chroms.setdefault(
            name, {"starts": [], "longest": 0, "n": 0, "end": 0}
        )

    offset = 0
    with fs_open(str(vcf_path)) as fh:
        for raw in _iter_raw_lines(fh):
            line_start = offset
            offset += len(raw)
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
    """Newline-terminated raw lines via chunked reads — works on any
    file-like with only ``read`` (plain files, pyarrow NativeFile)."""
    buf = bytearray()
    while True:
        data = fh.read(chunk)
        if not data:
            break
        buf.extend(data)
        nl = buf.find(b"\n")
        while nl != -1:
            yield bytes(buf[: nl + 1])
            del buf[: nl + 1]
            nl = buf.find(b"\n")
    if buf:
        yield bytes(buf)


def iter_text_lines_in_range(fh, start: int, end: int):
    """Yield the lines *owned* by byte range [start, end): a line belongs
    to the range containing its first byte (the standard Hadoop text-split
    ownership rule, so any tiling yields each line exactly once).  The
    final owned line is read to completion past ``end``.

    Reading begins at ``start - 1``; the first raw line is always the
    previous range's — either its unfinished tail, or (when byte start-1 is
    a newline) exactly that terminating byte — so exactly one is skipped."""
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
        pos += len(raw)
        if skip_first:
            skip_first = False
            continue
        if line_start >= end:
            break
        yield raw.rstrip(b"\r\n")
