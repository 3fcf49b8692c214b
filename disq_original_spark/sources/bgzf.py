"""BGZF (Blocked GZip Format) core: block guesser, reader, writer, virtual
offsets.  Pure-Python spec-level implementation (SAM/BAM spec §4.1); used by
the BAM and VCF sources.

Reference parity (behavior, not code):
- block guesser ≈ `bgzf/BgzfBlockGuesser.java:11-163` (magic scan + subfield
  walk validation);
- writer-without-terminator ≈ `bgzf/BGZFCompressionOutputStream.java:15-45`
  (parts are concatenation-closed);
- virtual offsets = ``coffset << 16 | uoffset`` as in htsjdk
  (`PathChunk.java:8-23`).
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass
from typing import BinaryIO, Iterator

# gzip magic + deflate method + FEXTRA flag set — every BGZF block starts so.
BGZF_MAGIC = b"\x1f\x8b\x08\x04"
# The BC extra subfield: SI1='B', SI2='C', SLEN=2.
BC_SUBFIELD_HEADER = b"\x42\x43\x02\x00"
# Standard 28-byte BGZF EOF marker (empty block) — the file terminator.
EMPTY_GZIP_BLOCK = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
)
HEADER_SIZE = 18  # fixed-layout BGZF member header (XLEN=6, one BC subfield)
FOOTER_SIZE = 8  # CRC32 + ISIZE
# Max uncompressed payload per block, leaving room so compressed size < 64 KiB.
MAX_UNCOMPRESSED_BLOCK = 65280
MAX_BLOCK_SIZE = 65536


@dataclass(frozen=True)
class BgzfBlock:
    """One BGZF block: compressed position/size and uncompressed size.
    Mirrors the reference's BgzfBlockGuesser.BgzfBlock (path carried by the
    caller)."""

    pos: int  # compressed byte offset of block start
    c_size: int  # compressed size including header/footer
    u_size: int  # uncompressed payload size (<= 65535)

    @property
    def end(self) -> int:
        return self.pos + self.c_size


def make_virtual_offset(coffset: int, uoffset: int) -> int:
    return (coffset << 16) | uoffset


def split_virtual_offset(voffset: int) -> tuple[int, int]:
    return voffset >> 16, voffset & 0xFFFF


def _parse_block_at(buf: bytes, off: int) -> tuple[int, int] | None:
    """If ``buf[off:]`` starts a plausible BGZF block header, return
    (c_size, xlen); else None.  Validates the full extra-subfield walk, like
    the reference guesser."""
    if buf[off : off + 4] != BGZF_MAGIC:
        return None
    if len(buf) - off < HEADER_SIZE:
        return None
    xlen = struct.unpack_from("<H", buf, off + 10)[0]
    if xlen < 6:
        return None
    # Walk subfields looking for BC; total walked must equal xlen exactly.
    sub_off = off + 12
    sub_end = sub_off + xlen
    if sub_end > len(buf):
        return None
    bsize = None
    while sub_off + 4 <= sub_end:
        si1, si2, slen = buf[sub_off], buf[sub_off + 1], struct.unpack_from("<H", buf, sub_off + 2)[0]
        if si1 == 0x42 and si2 == 0x43:
            if slen != 2 or sub_off + 6 > sub_end:
                return None
            bsize = struct.unpack_from("<H", buf, sub_off + 4)[0]
        sub_off += 4 + slen
    if sub_off != sub_end or bsize is None:
        return None
    c_size = bsize + 1
    if c_size < HEADER_SIZE + FOOTER_SIZE or c_size > MAX_BLOCK_SIZE:
        return None
    return c_size, xlen


def read_block_header(fh: BinaryIO, pos: int) -> tuple[int, int] | None:
    """Read the block at ``pos``; return (c_size, u_size) or None at EXACT
    end-of-file.  A PARTIAL header (1..17 bytes) is truncation, not EOF —
    returning None for it let a cut that landed between a record end and
    the next block's 18th byte read back as a clean stop with no error
    (callers sit on a validated block chain, so short bytes here can only
    mean the file was cut)."""
    fh.seek(pos)
    head = fh.read(HEADER_SIZE)
    if not head:
        return None
    if len(head) < HEADER_SIZE:
        raise ValueError(
            f"truncated BGZF block header at offset {pos} "
            f"({len(head)} of {HEADER_SIZE} bytes)"
        )
    # second read sized by the declared XLEN so spec-valid blocks with extra
    # gzip subfields (XLEN > the BC-only 6) still parse
    xlen = struct.unpack_from("<H", head, 10)[0]
    head += fh.read(xlen)
    parsed = _parse_block_at(head, 0)
    if parsed is None:
        raise ValueError(f"not a BGZF block at offset {pos}")
    c_size, _ = parsed
    fh.seek(pos + c_size - 4)
    tail = fh.read(4)
    if len(tail) < 4:
        raise ValueError(
            f"truncated BGZF block at offset {pos}: header declares "
            f"{c_size} compressed bytes but the file ends first"
        )
    isize = struct.unpack("<I", tail)[0]
    return c_size, isize


def find_next_block(fh: BinaryIO, start: int, end: int, *, chunk: int = 1 << 20) -> BgzfBlock | None:
    """Scan ``[start, end)`` for the first byte offset that starts a valid
    BGZF block (reference: BgzfBlockGuesser search loop).  A candidate is
    confirmed by following the implied chain: the next block must also parse
    (or be EOF)."""
    fh.seek(0, 2)
    file_len = fh.tell()
    scan_pos = start
    while scan_pos < end and scan_pos < file_len:
        fh.seek(scan_pos)
        # Overlap by a block header so headers straddling chunk edges are
        # seen; a short range reads about its own length, not a whole chunk
        step = min(chunk, end - scan_pos)
        buf = fh.read(min(step + HEADER_SIZE + 64, file_len - scan_pos))
        limit = min(len(buf), step)
        i = 0
        while i < limit and scan_pos + i < end:
            # a match must START below limit; its bytes may run past it
            j = buf.find(BGZF_MAGIC, i, limit + len(BGZF_MAGIC) - 1)
            if j < 0:
                break
            parsed = _parse_block_at(buf, j)
            if parsed is not None:
                c_size, _ = parsed
                block_pos = scan_pos + j
                if block_pos >= end:  # honor the [start, end) contract
                    return None
                nxt = block_pos + c_size
                confirmed = nxt == file_len
                if not confirmed and nxt < file_len:
                    fh.seek(nxt)
                    nxt_head = fh.read(HEADER_SIZE + 64)
                    confirmed = _parse_block_at(nxt_head, 0) is not None
                if confirmed:
                    fh.seek(block_pos + c_size - 4)
                    u_size = struct.unpack("<I", fh.read(4))[0]
                    return BgzfBlock(block_pos, c_size, u_size)
            i = j + 1
        scan_pos += chunk
    return None


def enumerate_blocks(fh: BinaryIO, start: int = 0, end: int | None = None) -> Iterator[BgzfBlock]:
    """Yield all blocks whose start lies in ``[start, end)``.

    If ``start`` is not a block boundary the first block is found by
    scanning — this is what makes BGZF *splittable*: any byte range maps to
    a well-defined set of whole blocks (reference: BgzfBlockSource.java:24-89).
    """
    fh.seek(0, 2)
    file_len = fh.tell()
    if end is None:
        end = file_len
    if start == 0:
        pos = 0
    else:
        blk = find_next_block(fh, start, end)
        if blk is None:
            return
        pos = blk.pos
    while pos < end and pos < file_len:
        hdr = read_block_header(fh, pos)
        if hdr is None:
            return
        c_size, u_size = hdr
        yield BgzfBlock(pos, c_size, u_size)
        pos += c_size


def decompress_block(fh: BinaryIO, block: BgzfBlock) -> bytes:
    fh.seek(block.pos)
    raw = fh.read(block.c_size)
    if len(raw) < block.c_size:
        raise ValueError(f"truncated BGZF block at {block.pos}")
    xlen = struct.unpack_from("<H", raw, 10)[0]
    payload = raw[12 + xlen : block.c_size - FOOTER_SIZE]
    data = zlib.decompress(payload, wbits=-15)
    crc, isize = struct.unpack_from("<II", raw, block.c_size - FOOTER_SIZE)
    if len(data) != isize:
        raise ValueError(f"BGZF ISIZE mismatch at {block.pos}: {len(data)} != {isize}")
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"BGZF CRC mismatch at {block.pos}")
    return data


def compress_block(data: bytes, level: int = 6) -> bytes:
    """Compress one standalone BGZF block.  Payload is capped at
    MAX_UNCOMPRESSED_BLOCK (65280, htsjdk's bound), not 65535: the level-0
    stored fallback for incompressible data adds deflate framing, and a
    65535-byte payload would push BSIZE past the u16 field."""
    if len(data) > MAX_UNCOMPRESSED_BLOCK:
        raise ValueError(
            f"BGZF block payload must be <= {MAX_UNCOMPRESSED_BLOCK} bytes"
        )
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    cdata = co.compress(data) + co.flush()
    bsize = HEADER_SIZE + len(cdata) + FOOTER_SIZE - 1
    if bsize > 0xFFFF:
        # Incompressible data: store at level 0 (still deflate-framed).
        co = zlib.compressobj(0, zlib.DEFLATED, -15)
        cdata = co.compress(data) + co.flush()
        bsize = HEADER_SIZE + len(cdata) + FOOTER_SIZE - 1
    header = (
        BGZF_MAGIC
        + b"\x00\x00\x00\x00"  # MTIME
        + b"\x00"  # XFL
        + b"\xff"  # OS=unknown
        + struct.pack("<H", 6)  # XLEN
        + BC_SUBFIELD_HEADER
        + struct.pack("<H", bsize)
    )
    footer = struct.pack("<II", zlib.crc32(data) & 0xFFFFFFFF, len(data))
    return header + cdata + footer


def compress_blocks(data: bytes) -> bytes:
    """``data`` as standalone BGZF blocks of 60000-byte payloads: how a
    header or an index file is compressed, in blocks of its own."""
    return b"".join(compress_block(bytes(data[i : i + 60000])) for i in range(0, len(data), 60000))


def write_bgzf_part(fh: BinaryIO, rows, record, index=None) -> int:
    """Write ``record(row)`` for each row to ``fh`` as a terminator-less
    BGZF part; ``index(row, v, v_end)`` sees each record's part-relative
    virtual offsets.  Returns the part's compressed size."""
    with BgzfWriter(fh, write_terminator=False) as w:
        for row in rows:
            rec = record(row)
            if index is None:
                w.write(rec)
                continue
            v = w.tell_virtual()
            w.write(rec)
            index(row, v, w.tell_virtual())
    return w.compressed_bytes


class BgzfWriter:
    """Streaming BGZF writer.  ``write_terminator=False`` produces a
    concatenation-closed part file (the single-file-commit trick:
    parts + driver-written header + EMPTY_GZIP_BLOCK concatenate into a
    valid BGZF file)."""

    def __init__(self, fh: BinaryIO, *, write_terminator: bool = True, level: int = 6):
        self._fh = fh
        self._buf = bytearray()
        self._terminator = write_terminator
        self._level = level
        self._closed = False
        self._cbytes = 0  # compressed bytes emitted so far

    def write(self, data: bytes) -> None:
        self._buf.extend(data)
        while len(self._buf) >= MAX_UNCOMPRESSED_BLOCK:
            chunk = bytes(self._buf[:MAX_UNCOMPRESSED_BLOCK])
            del self._buf[:MAX_UNCOMPRESSED_BLOCK]
            blk = compress_block(chunk, self._level)
            self._fh.write(blk)
            self._cbytes += len(blk)

    def tell_virtual(self) -> int:
        """Virtual offset of the next byte to be written, relative to this
        writer's stream start (coffset<<16|uoffset).  Sinks record these at
        record boundaries for write-time index creation; part-relative
        offsets rebase to file-absolute by adding the part's byte offset to
        the coffset half (parts are whole block sequences)."""
        return (self._cbytes << 16) | len(self._buf)

    @property
    def compressed_bytes(self) -> int:
        """Compressed bytes emitted (the part's final size once closed)."""
        return self._cbytes

    def flush_block(self) -> None:
        if self._buf:
            blk = compress_block(bytes(self._buf), self._level)
            self._fh.write(blk)
            self._cbytes += len(blk)
            self._buf.clear()

    def close(self) -> None:
        if self._closed:
            return
        self.flush_block()
        if self._terminator:
            self._fh.write(EMPTY_GZIP_BLOCK)
        self._closed = True

    def __enter__(self) -> "BgzfWriter":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class BgzfReader:
    """Random-access uncompressed-stream view over a BGZF file with
    virtual-offset seek/tell.  One decompressed block cached at a time."""

    def __init__(self, fh: BinaryIO):
        self._fh = fh
        self._block_pos = 0
        self._block_data = b""
        self._block_csize = 0
        self._uoffset = 0
        self._load_block(0)

    def _load_block(self, pos: int) -> bool:
        hdr_fh = self._fh
        hdr_fh.seek(0, 2)
        if pos >= hdr_fh.tell():
            self._block_pos = pos
            self._block_data = b""
            self._block_csize = 0
            self._uoffset = 0
            return False
        hdr = read_block_header(hdr_fh, pos)
        if hdr is None:
            return False
        c_size, u_size = hdr
        block = BgzfBlock(pos, c_size, u_size)
        self._block_data = decompress_block(hdr_fh, block)
        self._block_pos = pos
        self._block_csize = c_size
        self._uoffset = 0
        return True

    def seek_virtual(self, voffset: int) -> None:
        coffset, uoffset = split_virtual_offset(voffset)
        if coffset != self._block_pos or not self._block_data:
            if not self._load_block(coffset) and uoffset != 0:
                raise ValueError(f"cannot seek to virtual offset {voffset}")
        self._uoffset = uoffset

    def tell_virtual(self) -> int:
        if self._uoffset == len(self._block_data) and self._block_csize:
            # Normalize end-of-block to start-of-next (htsjdk convention).
            return make_virtual_offset(self._block_pos + self._block_csize, 0)
        return make_virtual_offset(self._block_pos, self._uoffset)

    def read(self, n: int) -> bytes:
        out = bytearray()
        while n > 0:
            avail = len(self._block_data) - self._uoffset
            if avail == 0:
                next_pos = self._block_pos + self._block_csize
                if self._block_csize == 0 or not self._load_block(next_pos):
                    break
                continue
            take = min(avail, n)
            out.extend(self._block_data[self._uoffset : self._uoffset + take])
            self._uoffset += take
            n -= take
        return bytes(out)

    def at_eof(self) -> bool:
        if self._uoffset < len(self._block_data):
            return False
        self._fh.seek(0, 2)
        return self._block_pos + self._block_csize >= self._fh.tell()


def _prev_block_ends_with_newline(fh: BinaryIO, block_pos: int) -> bool:
    """True iff the uncompressed byte immediately before ``block_pos``'s
    payload is a newline.  The previous block starts within 64 KiB, so scan
    forward from there and walk the chain."""
    if block_pos == 0:
        return True
    scan_from = max(0, block_pos - MAX_BLOCK_SIZE - 256)
    blk = find_next_block(fh, scan_from, block_pos)
    if blk is None:
        return True
    while blk.end < block_pos:
        hdr = read_block_header(fh, blk.end)
        if hdr is None:
            return True
        blk = BgzfBlock(blk.end, hdr[0], hdr[1])
    if blk.end != block_pos or blk.u_size == 0:
        # chain mismatch (shouldn't happen) or empty block — treat as clean
        return True
    data = decompress_block(fh, blk)
    return data.endswith(b"\n")


def iter_lines_in_range(fh: BinaryIO, start: int, end: int) -> Iterator[bytes]:
    """Yield the text lines *owned* by compressed byte range ``[start, end)``:
    a line belongs to the range iff its first uncompressed byte lies in a
    block starting within the range.  Any byte-range tiling of a BGZF text
    file therefore yields every line exactly once — this is what makes BGZF
    text (VCF) splittable (reference: BGZFSplitCompressionInputStream /
    BGZFCodec, `bgzf/BGZFCodec.java:29-76`).

    Block-at-a-time with exact attribution: a line's start block is the block
    holding its first byte (the byte after the previous newline).
    """
    if start == 0:
        pos = 0
        skip_partial = False
    else:
        first = find_next_block(fh, start, end)
        if first is None:
            return
        pos = first.pos
        # The stream tail of a line that started in an earlier block belongs
        # to the previous range — unless the previous block ended exactly at
        # a line boundary (then our first bytes ARE a fresh line).
        skip_partial = not _prev_block_ends_with_newline(fh, pos)

    carry = bytearray()
    carry_start_block = pos
    while True:
        fh.seek(0, 2)
        if pos >= fh.tell():
            break
        hdr = read_block_header(fh, pos)
        if hdr is None:
            break
        c_size, u_size = hdr
        data = decompress_block(fh, BgzfBlock(pos, c_size, u_size)) if u_size else b""
        segments = data.split(b"\n")
        for seg in segments[:-1]:
            if carry:
                line = bytes(carry) + seg
                line_start = carry_start_block
                carry.clear()
            else:
                line = seg
                line_start = pos
            if skip_partial:
                skip_partial = False
            elif line_start < end:
                yield line
            else:
                return
        tail = segments[-1]
        if tail:
            if not carry:
                carry_start_block = pos
            carry.extend(tail)
        pos += c_size
        if pos >= end:
            # Only a line already in flight (started < end) keeps us reading.
            if skip_partial or not carry or carry_start_block >= end:
                return
    if carry and not skip_partial and carry_start_block < end:
        yield bytes(carry)


def is_bgzf(fh: BinaryIO) -> bool:
    """Sniff whether a (possibly .gz-named) file is really BGZF — the
    reference's BGZFEnhancedGzipCodec distinction (`BGZFEnhancedGzipCodec.java:38-77`)."""
    pos = fh.tell()
    head = fh.read(HEADER_SIZE + 64)
    fh.seek(pos)
    return len(head) >= HEADER_SIZE and _parse_block_at(head, 0) is not None


def warn_if_missing_terminator(fh: BinaryIO, flen: int, path: str) -> None:
    """A structurally-clean stop at end-of-file only proves completeness if
    the file ends with the BGZF EOF block — otherwise a tail truncated at a
    block boundary would read back silently as complete.  Warn-only, as
    samtools and htsjdk treat the terminator as optional."""
    import warnings

    if flen < len(EMPTY_GZIP_BLOCK):
        return
    fh.seek(flen - len(EMPTY_GZIP_BLOCK))
    if fh.read(len(EMPTY_GZIP_BLOCK)) != EMPTY_GZIP_BLOCK:
        warnings.warn(
            f"{path}: no BGZF EOF terminator — file may be truncated at a "
            f"block boundary (htsjdk ParsingUtils would warn here too)",
            stacklevel=2,
        )
