"""CSI (coordinate-sorted index, v1) reader/builder and interval queries.

CSI generalizes the fixed 5-level BAI/tabix binning to arbitrary
``(min_shift, depth)`` so contigs longer than 2^29 bp stay indexable — the
classic scheme caps at 512 Mbp, which many plant/amphibian assemblies
exceed.  htsjdk transparently opens ``.csi`` for both BAM and
tabix-flavored text files, so the reference's index-driven query path
(`sam/AbstractBinarySamSource.java:92-113`) works on CSI-indexed inputs;
this module gives our sources the same reach: ``tabix.index_chunks``,
the lookup behind BAM interval pushdown and BGZF-VCF split pruning, falls
back to ``path + ".csi"`` when no ``.bai`` / ``.tbi`` exists, and BCF
reads plan from the ``.csi`` alone.

Layout (CSI spec; the file is itself BGZF/gzip-compressed): magic
``CSI\\x01``, ``min_shift`` i32, ``depth`` i32, ``l_aux`` i32 + aux bytes,
``n_ref``, then per ref: ``n_bin``; each bin: bin u32, ``loffset`` u64
(the linear index is folded into the bins, unlike BAI/tabix), ``n_chunk``,
chunk voffset pairs.  Tabix-flavored CSI carries the ``.tbi`` column
metadata (format, columns, meta char, skip, names) in aux.
"""

from __future__ import annotations

import gzip
import struct
from dataclasses import dataclass, field
from pathlib import Path

from .tabix import IndexAccumulator

CSI_MAGIC = b"CSI\x01"


def reg2bins_parameterized(
    beg: int, end: int, min_shift: int = 14, depth: int = 5
) -> list[int]:
    """All bins overlapping [beg, end) (0-based half-open) in a
    ``(min_shift, depth)`` binning scheme — the CSI spec's ``reg2bin``
    loop; ``(14, 5)`` reproduces :func:`tabix.reg2bins`."""
    out = []
    end -= 1
    s = min_shift + depth * 3
    t = 0
    for level in range(depth + 1):
        out.extend(range(t + (beg >> s), t + (end >> s) + 1))
        t += 1 << (level * 3)
        s -= 3
    return out


def bin_limit(min_shift: int, depth: int) -> int:
    """Total number of bins in the scheme (first invalid bin id)."""
    return ((1 << ((depth + 1) * 3)) - 1) // 7


@dataclass
class CsiIndex:
    min_shift: int
    depth: int
    aux: bytes
    # per ref: {bin: (loffset, [(start_voffset, end_voffset), ...])}
    bins: list[dict[int, tuple[int, list[tuple[int, int]]]]]
    names: list[str] = field(default_factory=list)  # tabix-flavored aux only


def _parse_tabix_aux(aux: bytes) -> list[str]:
    """Contig names from tabix-flavored CSI aux (same fields as the .tbi
    header minus n_ref); empty for BAM-flavored aux."""
    if len(aux) < 28:
        return []
    (fmt, col_seq, col_beg, col_end, meta, skip, l_nm) = struct.unpack_from(
        "<7i", aux, 0
    )
    if fmt not in (0, 1, 2, 0x10000, 0x10001, 0x10002) or l_nm != len(aux) - 28:
        return []
    return [n.decode() for n in aux[28 : 28 + l_nm].split(b"\x00")[:-1]]


def parse_csi(path: str | Path) -> CsiIndex:
    from .fsio import fs_read_bytes

    data = gzip.decompress(fs_read_bytes(str(path)))
    if data[:4] != CSI_MAGIC:
        raise ValueError(f"not a CSI index: magic {data[:4]!r}")
    min_shift, depth, l_aux = struct.unpack_from("<3i", data, 4)
    pos = 16
    aux = data[pos : pos + l_aux]
    pos += l_aux
    (n_ref,) = struct.unpack_from("<i", data, pos)
    pos += 4
    bins_all: list[dict[int, tuple[int, list[tuple[int, int]]]]] = []
    for _ in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, pos)
        pos += 4
        bins: dict[int, tuple[int, list[tuple[int, int]]]] = {}
        for _ in range(n_bin):
            bin_id, loffset, n_chunk = struct.unpack_from("<IQi", data, pos)
            pos += 16
            chunks = []
            for _ in range(n_chunk):
                u, v = struct.unpack_from("<QQ", data, pos)
                pos += 16
                chunks.append((u, v))
            bins[bin_id] = (loffset, chunks)
        bins_all.append(bins)
    return CsiIndex(min_shift, depth, aux, bins_all, _parse_tabix_aux(aux))


def _loffset_lower_bound(
    bins: dict[int, tuple[int, list[tuple[int, int]]]],
    beg0: int,
    min_shift: int,
    depth: int,
) -> int:
    """The linear lower bound for a query starting at ``beg0``: the
    ``loffset`` of the deepest existing bin containing ``beg0`` (walking up
    ancestors — htsjdk CSIIndex.getLevelForBin traversal), 0 if none."""
    t = (bin_limit(min_shift, depth - 1) if depth else 0)  # first leaf bin id
    b = t + (beg0 >> min_shift)
    while b >= 0:
        if b in bins:
            return bins[b][0]
        b = (b - 1) >> 3 if b else -1
    return 0


def csi_query_chunks(
    bins: dict[int, tuple[int, list[tuple[int, int]]]],
    start: int,
    end: int,
    min_shift: int,
    depth: int,
) -> list[tuple[int, int]]:
    """Chunks possibly overlapping [start, end] (1-based inclusive) — the
    CSI analog of :func:`tabix.bin_query_chunks`, with the folded per-bin
    ``loffset`` supplying the linear lower bound."""
    beg0 = max(0, start - 1)
    min_voff = _loffset_lower_bound(bins, beg0, min_shift, depth)
    out: list[tuple[int, int]] = []
    for b in reg2bins_parameterized(beg0, end, min_shift, depth):
        loff_chunks = bins.get(b)
        if loff_chunks is None:
            continue
        for u, v in loff_chunks[1]:
            if v > min_voff:
                out.append((max(u, min_voff), v))
    return out


class CsiAccumulator(IndexAccumulator):
    """Streaming CSI builder: the ``IndexAccumulator`` core with
    parameterized binning and loffsets folded into the bins.

    ``loffset`` construction: the core's linear index over ``min_shift``-
    sized leaf windows holds the min start-voffset of any feature
    OVERLAPPING the window (spanning features lower every window they
    cross, exactly like the BAI linear index), and each bin's loffset is
    the fill-forward linear value at the bin's first leaf window.  Every
    stored loffset is therefore ≤ the true first-overlap offset, so query
    clamping can only be weaker than optimal, never incorrect."""

    def __init__(self, n_ref: int, min_shift: int = 14, depth: int = 5):
        super().__init__(n_ref)
        self.min_shift = min_shift
        self.depth = depth
        self._leaf0 = bin_limit(min_shift, depth - 1) if depth else 0

    def _reg2bin(self, beg: int, end: int) -> int:
        end -= 1
        s = self.min_shift
        t = self._leaf0
        for _ in range(self.depth + 1):
            if beg >> s == end >> s:
                return t + (beg >> s)
            s += 3
            t = (t - 1) >> 3 if t else 0
        return 0

    def _first_leaf_window(self, b: int) -> int:
        """Index of the first ``min_shift`` leaf window a bin covers."""
        level, t = 0, 0
        while b >= t + (1 << (level * 3)) and level < self.depth:
            t += 1 << (level * 3)
            level += 1
        return (b - t) << (3 * (self.depth - level))

    def dump(self, aux: bytes = b"") -> bytes:
        import bisect

        from .bgzf import EMPTY_GZIP_BLOCK, compress_blocks

        payload = bytearray(CSI_MAGIC)
        payload += struct.pack("<3i", self.min_shift, self.depth, len(aux))
        payload += aux
        payload += struct.pack("<i", len(self.bins))
        for bins, linear in zip(self.bins, self.linear):
            windows = sorted(linear)

            def loffset(b: int) -> int:
                # fill-forward: the nearest populated window at or before
                # the bin's first leaf window
                i = bisect.bisect_right(windows, self._first_leaf_window(b)) - 1
                return linear[windows[i]] if i >= 0 else 0

            payload += struct.pack("<i", len(bins))
            for b in sorted(bins):
                payload += struct.pack("<IQi", b, loffset(b), len(bins[b]))
                for u, v in bins[b]:
                    payload += struct.pack("<QQ", u, v)
        return compress_blocks(payload) + EMPTY_GZIP_BLOCK


def tabix_aux(names: list[str], fmt: int = 2, col_seq: int = 1, col_beg: int = 2,
              col_end: int = 0, meta: str = "#", skip: int = 0) -> bytes:
    names_blob = b"".join(n.encode() + b"\x00" for n in names)
    return struct.pack(
        "<7i", fmt, col_seq, col_beg, col_end, ord(meta), skip, len(names_blob)
    ) + names_blob


def create_csi_for_bam(
    bam_path: str | Path, min_shift: int = 14, depth: int = 5, out: str | None = None
) -> str:
    """Sequential post-hoc ``.csi`` build over a BAM — the same record walk
    as :func:`bai.create_bai` feeding a parameterized accumulator."""
    from .bai import iter_bam_record_spans
    from .fsio import fs_write_bytes
    from .headers import read_bam_header

    _, refs, _ = read_bam_header(str(bam_path))
    acc = CsiAccumulator(len(refs), min_shift, depth)
    for ref_id, pos0, end0, v, v_end in iter_bam_record_spans(str(bam_path)):
        acc.add(ref_id, pos0, end0, v, v_end)
    path = out or str(bam_path) + ".csi"
    fs_write_bytes(path, acc.dump())
    return path


def create_csi_for_vcf(
    vcf_path: str | Path, min_shift: int = 14, depth: int = 5, out: str | None = None
) -> str:
    """Sequential post-hoc tabix-flavored ``.csi`` build over a BGZF VCF."""
    from .fsio import fs_open, fs_write_bytes
    from .tabix import _iter_bgzf_lines_with_voffsets, vcf_feature_span

    names: list[str] = []
    idx: dict[str, int] = {}
    feats: list[tuple[int, int, int, int, int]] = []
    with fs_open(str(vcf_path)) as fh:
        for line, v, v_end in _iter_bgzf_lines_with_voffsets(fh):
            if line.startswith(b"#"):
                continue
            name, beg0, end0 = vcf_feature_span(line.decode())
            if name not in idx:
                idx[name] = len(names)
                names.append(name)
            feats.append((idx[name], beg0, end0, v, v_end))
    acc = CsiAccumulator(len(names), min_shift, depth)
    for ref_id, beg0, end0, v, v_end in feats:
        acc.add(ref_id, beg0, end0, v, v_end)
    path = out or str(vcf_path) + ".csi"
    fs_write_bytes(path, acc.dump(aux=tabix_aux(names)))
    return path
