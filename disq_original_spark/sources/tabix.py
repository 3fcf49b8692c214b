"""Tabix (.tbi) index reader, and the one index lookup of every
BGZF-indexed source.

The reference pushes interval predicates down to the index at
``getSplits`` time: the ``.bai`` for BAM
(`sam/AbstractBinarySamSource.java:96-113`) and tabix for VCF
(`vcf/VcfSource.java:143-168`).  ``index_chunks`` is the Spark-side
equivalent for BAM, VCF and BCF alike: it opens the file's ``.bai``,
``.tbi`` or ``.csi``, refuses an index that points past end-of-file, and
maps query intervals to virtual-offset chunks via the R-tree bins.  The
sources drop byte-range splits no chunk reaches — partition pruning,
before any task launches — and go one step past the reference:
``clip_ranges`` cuts the chunks to each surviving split, and the task
decodes only those, not its whole split.

Format: SAM/tabix spec §5 (the .tbi layout is the BAI layout plus column
metadata); the file is itself BGZF-compressed.
"""

from __future__ import annotations

import gzip
import struct
from dataclasses import dataclass
from pathlib import Path

from .bam_codec import reg2bin

TBI_MAGIC = b"TBI\x01"


@dataclass
class TabixIndex:
    fmt: int
    col_seq: int
    col_beg: int
    col_end: int
    meta_char: str
    skip: int
    names: list[str]
    # per reference: {bin: [(chunk_begin_voffset, chunk_end_voffset), ...]}
    bins: list[dict[int, list[tuple[int, int]]]]
    # per reference: 16kb-window linear index of virtual offsets
    linear: list[list[int]]


def reg2bins(beg: int, end: int) -> list[int]:
    """All bins overlapping [beg, end) (0-based), BAI/tabix binning scheme."""
    out = [0]
    end -= 1
    for shift, offset in ((26, 1), (23, 9), (20, 73), (17, 585), (14, 4681)):
        out.extend(range(offset + (beg >> shift), offset + (end >> shift) + 1))
    return out


def parse_tabix(path: str | Path) -> TabixIndex:
    from .fsio import fs_read_bytes

    data = gzip.decompress(fs_read_bytes(str(path)))
    if data[:4] != TBI_MAGIC:
        raise ValueError(f"not a tabix index: magic {data[:4]!r}")
    (n_ref, fmt, col_seq, col_beg, col_end, meta, skip, l_nm) = struct.unpack_from(
        "<8i", data, 4
    )
    pos = 4 + 32
    names = [n.decode() for n in data[pos : pos + l_nm].split(b"\x00")[:-1]]
    bins, linear, _ = parse_bins_linear(data, pos + l_nm, n_ref)
    return TabixIndex(fmt, col_seq, col_beg, col_end, chr(meta), skip, names, bins, linear)


def parse_bins_linear(data: bytes, pos: int, n_ref: int):
    """The per-reference bins and linear index of the BAI/tabix layout
    (SAM spec §5), read from ``pos``: ``(bins, linear, end position)``."""
    bins: list[dict[int, list[tuple[int, int]]]] = []
    linear: list[list[int]] = []
    for _ in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, pos)
        pos += 4
        b: dict[int, list[tuple[int, int]]] = {}
        for _ in range(n_bin):
            bin_id, n_chunk = struct.unpack_from("<Ii", data, pos)
            pos += 8
            chunks = []
            for _ in range(n_chunk):
                u, v = struct.unpack_from("<QQ", data, pos)
                pos += 16
                chunks.append((u, v))
            b[bin_id] = chunks
        (n_intv,) = struct.unpack_from("<i", data, pos)
        pos += 4
        ioff = list(struct.unpack_from(f"<{n_intv}Q", data, pos))
        pos += 8 * n_intv
        bins.append(b)
        linear.append(ioff)
    return bins, linear, pos


def index_chunks(
    fs,
    path: str,
    flen: int,
    intervals: list[tuple[str, int, int]] | None,
    ref_names: list[str] | None = None,
    sidecars: tuple[str, ...] = (".bai", ".csi"),
) -> list[tuple[int, int]] | None:
    """The index lookup of every BGZF-indexed source: the sorted
    virtual-offset chunks of ``path``'s index that may hold a record
    overlapping any ``(contig, start, end)`` interval (1-based inclusive,
    like the reference's htsjdk Interval), or every chunk when
    ``intervals`` is None; None when no index is present.

    The index is the first ``path + ext`` present for ``ext`` in
    ``sidecars``, the format's order: BAM ``(".bai", ".csi")``, VCF
    ``(".tbi", ".csi")``, BCF ``(".csi",)``.  Contig names come from the
    index (``.tbi``, tabix-flavored ``.csi``), else from ``ref_names``
    (the file header's references, by id).  Only overlapping chunks merge:
    each chunk start stays a record start, a legal task cut.

    An index whose largest chunk end lies past ``flen`` is refused, over
    the whole index, whichever intervals are asked for: the index is
    authoritative about what the file must contain, and the splits tile
    only ``[0, flen)``, so chunks past end-of-file would drop out silently.
    Pseudo-bins are not chunks: htslib adds a metadata bin at
    ``bin_limit + 1`` (37450 in ``.bai``/``.tbi``) whose second chunk
    holds record COUNTS, not offsets, so every bin from the scheme's
    ``bin_limit`` on is skipped."""
    from .csi import bin_limit, csi_query_chunks, parse_csi

    ext = next((e for e in sidecars if fs.exists(path + e)), None)
    if ext is None:
        return None
    if ext == ".csi":
        idx = parse_csi(path + ext)
        refs = [{b: ch for b, (_loff, ch) in bins.items()} for bins in idx.bins]
        limit = bin_limit(idx.min_shift, idx.depth)

        def query(r: int, start: int, end: int) -> list[tuple[int, int]]:
            return csi_query_chunks(idx.bins[r], start, end, idx.min_shift, idx.depth)

    else:
        if ext == ".bai":
            from .bai import parse_bai

            idx = parse_bai(path + ext)
        else:
            idx = parse_tabix(path + ext)
        refs = idx.bins
        limit = bin_limit(14, 5)

        def query(r: int, start: int, end: int) -> list[tuple[int, int]]:
            return bin_query_chunks(idx.bins[r], idx.linear[r], start, end)

    real = [c for bins in refs for b, ch in bins.items() if b < limit for c in ch]
    max_coff = max((v >> 16 for _u, v in real), default=0)
    if max_coff > flen:
        raise ValueError(
            f"{path}: {ext} index references compressed offset {max_coff} past "
            f"end-of-file ({flen}) — truncated file or stale index"
        )
    if intervals is None:
        chunks = real
    else:
        ids: dict[str, int] = {}
        # a .bai, and a BAM-flavored .csi, name no contigs
        for i, name in enumerate(getattr(idx, "names", None) or ref_names or ()):
            ids.setdefault(name, i)
        chunks = []
        for contig, start, end in intervals:
            r = ids.get(contig)
            if r is not None and r < len(refs):
                chunks.extend(query(r, start, end))
    chunks.sort()
    merged: list[tuple[int, int]] = []
    for u, v in chunks:
        if merged and u < merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], v))
        else:
            merged.append((u, v))
    return merged


def clip_ranges(
    lo: int, hi: int, ranges: list[tuple[int, int]]
) -> list[tuple[int, int]]:
    """The parts of sorted, disjoint ``ranges`` inside ``[lo, hi)`` — what a
    split owning ``[lo, hi)`` decodes of an index's ranges.  Works on any
    offset space (BAI virtual offsets, tabix/Tribble byte offsets); the
    output is sorted and disjoint because the input is."""
    out = []
    for u, v in ranges:
        a, b = max(u, lo), min(v, hi)
        if a < b:
            out.append((a, b))
    return out


def bin_query_chunks(
    bins: dict[int, list[tuple[int, int]]],
    linear: list[int],
    start: int,
    end: int,
) -> list[tuple[int, int]]:
    """Shared R-tree bin query (SAM spec §5, used by both BAI and tabix):
    chunks possibly overlapping [start, end] (1-based inclusive), clamped by
    the 16 kb linear-index lower bound."""
    beg0 = max(0, start - 1)
    min_voff = linear[min(beg0 >> 14, len(linear) - 1)] if linear else 0
    out: list[tuple[int, int]] = []
    for b in reg2bins(beg0, end):
        for u, v in bins.get(b, ()):
            if v > min_voff:
                out.append((max(u, min_voff), v))
    return out


def merge_ranges(raw: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Sort + merge overlapping/adjacent (start, end) ranges."""
    if not raw:
        return []
    raw.sort()
    merged = [raw[0]]
    for s, e in raw[1:]:
        if s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged


def rebase_voffset(voff: int, base_bytes: int) -> int:
    """Part-relative virtual offset → file-absolute, for a part that starts
    ``base_bytes`` into the merged file (parts are whole block sequences, so
    only the coffset half shifts)."""
    return ((voff >> 16) + base_bytes) << 16 | (voff & 0xFFFF)


class IndexAccumulator:
    """Streaming core of the BAI, tabix and CSI builders: per-reference bin
    chunks and a linear index of ``2^min_shift``-wide windows.

    Feed records in file order and ``dump``; or, at write time, run one per
    part with part-relative voffsets, end it with ``finish(csize)``, ship
    ``to_meta()`` and fold the parts in file order with ``merge_rebased``.
    Both paths extend an adjacent chunk the same way, so the write-time
    index is byte-identical to a sequential build over the merged file.
    Subclasses supply their binning (``_reg2bin``) and their ``dump``."""

    min_shift = 14  # 16 kb linear windows, as in BAI and tabix
    _reg2bin = staticmethod(reg2bin)

    def __init__(self, n_ref: int = 0):
        self.bins: list[dict[int, list[list[int]]]] = [{} for _ in range(n_ref)]
        self.linear: list[dict[int, int]] = [{} for _ in range(n_ref)]
        self.n_no_coor = 0
        self._last: tuple[int, int, int] | None = None  # (ref, bin, v_end) of the last record

    def add(self, ref_id: int, pos0: int, end0: int, v: int, v_end: int) -> None:
        """One record: 0-based [pos0, end0) span, [v, v_end) voffsets; a
        record without a position is only counted."""
        self._last = None
        if ref_id < 0 or pos0 < 0:
            self.n_no_coor += 1
            return
        end0 = max(pos0 + 1, end0)
        b = self._reg2bin(pos0, end0)
        self._add_chunk(ref_id, b, v, v_end)
        self._last = (ref_id, b, v_end)
        self._add_linear(ref_id, range(pos0 >> self.min_shift, ((end0 - 1) >> self.min_shift) + 1), v)

    def _add_chunk(self, ref_id: int, b: int, u: int, v: int) -> None:
        chunks = self.bins[ref_id].setdefault(b, [])
        if chunks and chunks[-1][1] == u:
            chunks[-1][1] = v  # extend adjacent chunk
        else:
            chunks.append([u, v])

    def _add_linear(self, ref_id: int, windows, v: int) -> None:
        linear = self.linear[ref_id]
        for w in windows:
            if w not in linear or v < linear[w]:
                linear[w] = v

    def finish(self, csize: int) -> None:
        """End a part of ``csize`` compressed bytes.  The writer placed the
        last record's end inside the block its close() flushed; a
        sequential reader (``BgzfReader.tell_virtual``) reports it as the
        start of the next block, so the chunk ends there."""
        if self._last is not None:
            ref_id, b, v_end = self._last
            chunk = self.bins[ref_id][b][-1]
            if chunk[1] == v_end:
                chunk[1] = csize << 16

    def to_meta(self) -> dict:
        return {"bins": self.bins, "linear": self.linear, "no_coor": self.n_no_coor}

    def _meta_refs(self, meta: dict) -> list[int]:
        """This index's reference ids for ``meta``'s references."""
        return list(range(len(meta["bins"])))

    def merge_rebased(self, meta: dict, base: int) -> None:
        """Fold one part in, shifting its voffsets by ``base`` bytes.  Parts
        must arrive in file order, so that chunks adjacent across a part
        boundary merge as a sequential scan would merge them."""
        for ref_id, bins, linear in zip(self._meta_refs(meta), meta["bins"], meta["linear"]):
            for b, chunks in bins.items():
                for u, v in chunks:
                    self._add_chunk(ref_id, b, rebase_voffset(u, base), rebase_voffset(v, base))
            for w, v in linear.items():
                self._add_linear(ref_id, (w,), rebase_voffset(v, base))
        self.n_no_coor += meta["no_coor"]

    def fold(self, metas: list[dict], base: int) -> IndexAccumulator:
        """Merge parts in file order, the first ``base`` bytes into the file."""
        from .merger import part_bases

        for meta, b in part_bases(metas, base):
            self.merge_rebased(meta, b)
        return self

    def _dump_refs(self) -> bytes:
        """The per-reference bins and linear index of the BAI/tabix layout."""
        out = bytearray()
        for bins, lin in zip(self.bins, self.linear):
            out += struct.pack("<i", len(bins))
            for b in sorted(bins):
                out += struct.pack("<Ii", b, len(bins[b]))
                for u, v in bins[b]:
                    out += struct.pack("<QQ", u, v)
            n_intv = (max(lin) + 1) if lin else 0
            out += struct.pack("<i", n_intv)
            prev = 0
            for w in range(n_intv):
                # windows with no record inherit the previous offset (lower bound)
                prev = lin.get(w, prev)
                out += struct.pack("<Q", prev)
        return bytes(out)


class TabixAccumulator(IndexAccumulator):
    """Streaming .tbi builder for the VCF preset (fmt=2: seq col 1, beg col
    2, end from the REF allele), keyed by chromosome name in order of first
    appearance."""

    def __init__(self):
        super().__init__()
        self.names: list[str] = []
        self._idx: dict[str, int] = {}

    def _ref(self, name: str) -> int:
        i = self._idx.get(name)
        if i is None:
            i = len(self.names)
            self._idx[name] = i
            self.names.append(name)
            self.bins.append({})
            self.linear.append({})
        return i

    def add(self, name: str, beg0: int, end0: int, v: int, v_end: int) -> None:
        """One feature: 0-based half-open [beg0, end0), [v, v_end) voffsets."""
        super().add(self._ref(name), beg0, end0, v, v_end)

    def to_meta(self) -> dict:
        return {"names": self.names, **super().to_meta()}

    def _meta_refs(self, meta: dict) -> list[int]:
        return [self._ref(name) for name in meta["names"]]

    def dump(self) -> bytes:
        """Serialize + BGZF-compress (.tbi files are themselves BGZF)."""
        from .bgzf import EMPTY_GZIP_BLOCK, compress_blocks

        names_blob = b"".join(n.encode() + b"\x00" for n in self.names)
        payload = (
            TBI_MAGIC
            + struct.pack("<8i", len(self.names), 2, 1, 2, 0, ord("#"), 0, len(names_blob))
            + names_blob
            + self._dump_refs()
        )
        return compress_blocks(payload) + EMPTY_GZIP_BLOCK


def _iter_bgzf_lines_with_voffsets(fh):
    """Yield ``(line_bytes, v_start, v_end)`` for each newline-terminated
    line of a BGZF text file.  End-of-block offsets are normalized to
    start-of-next-block, matching ``BgzfWriter.tell_virtual`` so a post-hoc
    index build is byte-comparable to the write-time one."""
    from .bgzf import BgzfBlock, decompress_block, read_block_header

    pos = 0
    carry = b""
    carry_v = 0
    while True:
        hdr = read_block_header(fh, pos)
        if hdr is None:
            break
        c_size, _ = hdr
        data = decompress_block(fh, BgzfBlock(pos, c_size, 0))
        next_pos = pos + c_size
        start = 0
        while True:
            i = data.find(b"\n", start)
            if i < 0:
                if data[start:]:
                    if not carry:
                        carry_v = (pos << 16) | start
                    carry += data[start:]
                break
            v_end = ((pos << 16) | (i + 1)) if i + 1 < len(data) else (next_pos << 16)
            if carry:
                yield carry + data[start:i], carry_v, v_end
                carry = b""
            else:
                yield data[start:i], (pos << 16) | start, v_end
            start = i + 1
        pos = next_pos


def vcf_feature_span(line: str) -> tuple[str, int, int]:
    """``(contig, beg0, end0)`` of one VCF data line, 0-based half-open.
    END-aware like htsjdk's indexers (symbolic/structural alleles span to
    ``INFO END=``); otherwise the REF-allele span of the classic
    ``tabix -p vcf`` preset.  The read side's overlap test is END-aware
    (``vcf.variant_end``: the line's last ``END``, cast as Spark's
    ``try_cast``), so the index must cover the same span or pruning could
    drop a split the test would keep."""
    from ..operators.interval import try_long
    from .vcf import info_end

    f = line.split("\t", 8)
    beg0 = int(f[1]) - 1
    end0 = beg0 + max(1, len(f[3]))
    end = try_long(info_end(f[7])) if len(f) > 7 else None
    return f[0], beg0, end0 if end is None else max(end0, end)


def create_tabix_index(path: str, out: str | None = None) -> None:
    """Sequential post-hoc ``.tbi`` build over an existing BGZF VCF (htsjdk
    ``TabixIndexCreator`` role).  Also the truth the distributed write-time
    build (``VcfSink.write(write_index=True)``) is byte-compared against in
    tests."""
    from .fsio import fs_open, fs_write_bytes

    acc = TabixAccumulator()
    with fs_open(path) as fh:
        for line, v, v_end in _iter_bgzf_lines_with_voffsets(fh):
            if line.startswith(b"#"):
                continue
            name, beg0, end0 = vcf_feature_span(line.decode())
            acc.add(name, beg0, end0, v, v_end)
    fs_write_bytes(out or path + ".tbi", acc.dump())
