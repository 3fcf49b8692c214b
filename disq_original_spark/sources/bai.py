"""BAI (BAM index) reader/writer.

The reference's interval pushdown asks the BAM index for the file span of
each query and intersects it with the partition's chunk
(`sam/AbstractBinarySamSource.java:96-113`, `formats/BoundedTraversalUtil.
java:10-53`).  ``tabix.index_chunks`` maps (contig, start, end) intervals
to virtual-offset chunks via the BAI's R-tree bins + linear index, and the
BAM source decodes only the intersection of its chunk with those chunks.

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

from .tabix import IndexAccumulator, parse_bins_linear

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
    bins, linear, pos = parse_bins_linear(data, 8, n_ref)
    n_no_coor = None
    if pos + 8 <= len(data):
        (n_no_coor,) = struct.unpack_from("<Q", data, pos)
    return BaiIndex(bins, linear, n_no_coor)


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
