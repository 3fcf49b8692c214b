"""BAI (BAM index) reader/writer and interval→byte-range pushdown.

The reference's interval pushdown asks the BAM index for the file span of
each query and intersects it with the partition's chunk
(`sam/AbstractBinarySamSource.java:96-113`, `formats/BoundedTraversalUtil.
java:10-53`).  This module supplies that: ``voffset_ranges_for_intervals``
maps (contig, start, end) intervals to merged virtual-offset ranges via the
BAI's R-tree bins + linear index, and the BAM source decodes only the
intersection of its chunk with those ranges.

No ``.bai`` fixture ships with the reference, so ``create_bai`` writes the
index too (same single-pass shape as ``create_sbi``) — the reader is
validated against indexes we build, and the binning scheme is shared with
the tabix module (SAM spec §5: BAI is the tabix layout minus column
metadata).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from pathlib import Path

from .tabix import IndexAccumulator

BAI_MAGIC = b"BAI\x01"


@dataclass
class BaiIndex:
    # per reference id: {bin: [(start_voffset, end_voffset), ...]}
    bins: list[dict[int, list[tuple[int, int]]]]
    linear: list[list[int]]
    n_no_coor: int | None = None


def parse_bai(path: str | Path) -> BaiIndex:
    from .fsio import fs_read_bytes

    data = fs_read_bytes(str(path))
    if data[:4] != BAI_MAGIC:
        raise ValueError(f"not a BAI index: magic {data[:4]!r}")
    (n_ref,) = struct.unpack_from("<i", data, 4)
    pos = 8
    bins_all, linear_all = [], []
    for _ in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, pos)
        pos += 4
        bins: dict[int, list[tuple[int, int]]] = {}
        for _ in range(n_bin):
            bin_id, n_chunk = struct.unpack_from("<Ii", data, pos)
            pos += 8
            chunks = []
            for _ in range(n_chunk):
                u, v = struct.unpack_from("<QQ", data, pos)
                pos += 16
                chunks.append((u, v))
            bins[bin_id] = chunks
        (n_intv,) = struct.unpack_from("<i", data, pos)
        pos += 4
        linear = list(struct.unpack_from(f"<{n_intv}Q", data, pos))
        pos += 8 * n_intv
        bins_all.append(bins)
        linear_all.append(linear)
    n_no_coor = None
    if pos + 8 <= len(data):
        (n_no_coor,) = struct.unpack_from("<Q", data, pos)
    return BaiIndex(bins_all, linear_all, n_no_coor)


def voffset_ranges_for_intervals(
    idx: BaiIndex, intervals: list[tuple[int, int, int]]
) -> list[tuple[int, int]]:
    """Merged virtual-offset ranges that contain every record possibly
    overlapping any (ref_id, start, end) interval (1-based inclusive)."""
    from .tabix import bin_query_chunks, merge_ranges

    raw: list[tuple[int, int]] = []
    for ref_id, start, end in intervals:
        if not 0 <= ref_id < len(idx.bins):
            continue
        raw.extend(bin_query_chunks(idx.bins[ref_id], idx.linear[ref_id], start, end))
    return merge_ranges(raw)


class BaiAccumulator(IndexAccumulator):
    """Streaming BAI builder (``IndexAccumulator`` core, BAM binning): feed
    records in file order, dump at the end; the sink folds its parts'
    metadata instead (``fold``)."""

    def dump(self) -> bytes:
        return (
            BAI_MAGIC
            + struct.pack("<i", len(self.bins))
            + self._dump_refs()
            + struct.pack("<Q", self.n_no_coor)
        )


def iter_bam_record_spans(bam_path: str | Path):
    """Yield ``(ref_id, pos0, end0, v, v_end)`` per BAM record in file
    order (end0 from the CIGAR reference span; unmapped records yield
    ``end0=0``) — the shared record walk behind the sequential BAI/CSI
    builders."""
    from .bgzf import BgzfReader
    from .fsio import fs_open
    from .headers import read_bam_header

    _, _, first_voffset = read_bam_header(str(bam_path))
    with fs_open(str(bam_path)) as fh:
        reader = BgzfReader(fh)
        reader.seek_virtual(first_voffset)
        while True:
            v = reader.tell_virtual()
            size_b = reader.read(4)
            if len(size_b) < 4:
                break
            (block_size,) = struct.unpack_from("<i", size_b)
            body = reader.read(block_size)
            if len(body) < block_size:
                break
            v_end = reader.tell_virtual()
            ref_id, pos0 = struct.unpack_from("<ii", body, 0)
            if ref_id < 0 or pos0 < 0:
                yield ref_id, pos0, 0, v, v_end
                continue
            n_cigar = struct.unpack_from("<H", body, 12)[0]
            l_read_name = body[8]
            ref_len = 0
            coff = 32 + l_read_name
            for i in range(n_cigar):
                (op,) = struct.unpack_from("<I", body, coff + 4 * i)
                if (op & 0xF) in (0, 2, 3, 7, 8):  # M D N = X
                    ref_len += op >> 4
            yield ref_id, pos0, pos0 + max(1, ref_len), v, v_end


def create_bai(bam_path: str | Path) -> str:
    """Single-pass BAI build from a BAM file (driver-side, like
    ``create_sbi``): bin each record by its alignment span, collect per-bin
    voffset chunks (merging adjacent), plus the 16 kb linear index."""
    from .fsio import fs_write_bytes
    from .headers import read_bam_header

    _, refs, _ = read_bam_header(str(bam_path))
    acc = BaiAccumulator(len(refs))
    for ref_id, pos0, end0, v, v_end in iter_bam_record_spans(bam_path):
        acc.add(ref_id, pos0, end0, v, v_end)

    path = str(bam_path) + ".bai"
    fs_write_bytes(path, acc.dump())
    return path
