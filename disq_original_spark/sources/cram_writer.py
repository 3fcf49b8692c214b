"""CRAM 2.1 encoder (reference-based), spec-faithful and readable by the
sibling decoder (``cram_codec``).

The reference's CRAM sink delegates encoding to htsjdk's
`CRAMContainerStreamWriter` (`cram/CramSink.java:79-85`) and requires a
reference FASTA; this writer does the same from scratch with deliberately
simple choices that stay inside the spec:

- one slice per container, multi-reference slices (``ref_seq_id = -2`` with
  per-record RI, absolute AP) so a partition never needs contig grouping,
- every data series EXTERNAL (ITF8 ints / raw bytes) in its own
  gzip-compressed block; read names and inserted/soft-clipped bases via
  BYTE_ARRAY_STOP; tags via BYTE_ARRAY_LEN over two external streams,
- sequences encoded as substitution/insert/clip features against the
  reference (X/B/I/S/D/N/P/H), qualities preserved verbatim.

Tag value types are canonicalized on round-trip (all integer widths → 'i'),
matching how SAM text represents them.
"""

from __future__ import annotations

import gzip
import struct
from pathlib import Path

from .bam_codec import _QUAL_MINUS33
from .cram_codec import CRAM_MAGIC, IndexedFasta

# spec-defined v2.1 EOF container (matches htsjdk's CramIO.ZERO_B_EOF_MARKER)
EOF_CONTAINER = bytes.fromhex(
    "0b000000ffffffff0fe0454f460000000001000001000606010001000100"
)

DEFAULT_SM = b"\x1b\x1b\x1b\x1b\x1b"  # identity-ordered substitution matrix


def _encode_qual(qual: str, qname: object) -> bytes:
    """Phred+33 string -> raw phred bytes, failing loud by record name.

    Mirrors the named-error convention of ``bam_codec.encode_record``
    (ADVICE r10): a codepoint above U+00FF or a character below '!' is
    invalid SAM qual and must raise a ValueError naming the record, not
    leak a UnicodeEncodeError or silently wrap to a bogus phred byte via
    the ``&0xFF`` translate table."""
    try:
        enc = qual.encode("latin-1")
    except UnicodeEncodeError as e:
        raise ValueError(
            f"record {qname!r}: qual contains non-phred character "
            f"{qual[e.start]!r} (codepoint > 0xFF)"
        ) from None
    out = enc.translate(_QUAL_MINUS33)
    # chars '!'..'\xff' map to 0x00..0xDE; anything above 0xDE can only
    # come from a source char below '!' wrapping through the &0xFF table
    if out and max(out) > 0xDE:
        raise ValueError(
            f"record {qname!r}: qual contains character {min(qual)!r} "
            "below '!' (not a valid phred+33 score)"
        )
    return out

# fixed external content-id allocation (self-describing via the encoding map)
CID = {
    "BF": 1, "CF": 2, "RI": 3, "RL": 4, "AP": 5, "RG": 6, "MF": 7, "NS": 8,
    "NP": 9, "TS": 10, "RN": 11, "QS": 12, "IN": 13, "SC": 14, "FN": 15,
    "FC": 16, "FP": 17, "BS": 18, "DL": 19, "RS": 20, "PD": 21, "HC": 22,
    "MQ": 23, "BA": 24, "TL": 25,
}
_TAG_CID_BASE = 40

_INT_SERIES = ("BF", "CF", "RI", "RL", "AP", "RG", "MF", "NS", "NP", "TS",
               "TL", "FN", "FP", "DL", "MQ", "HC", "PD", "RS")
_BYTE_SERIES = ("FC", "BA", "QS", "BS")
_STOP_SERIES = ("RN", "IN", "SC")


def itf8(v: int) -> bytes:
    v &= 0xFFFFFFFF
    if v < 0x80:
        return bytes([v])
    if v < 0x4000:
        return bytes([0x80 | (v >> 8), v & 0xFF])
    if v < 0x200000:
        return bytes([0xC0 | (v >> 16), (v >> 8) & 0xFF, v & 0xFF])
    if v < 0x10000000:
        return bytes([0xE0 | (v >> 24), (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF])
    return bytes([0xF0 | ((v >> 28) & 0x0F), (v >> 20) & 0xFF, (v >> 12) & 0xFF,
                  (v >> 4) & 0xFF, v & 0x0F])


def ltf8(v: int) -> bytes:
    if v < 0:
        v &= (1 << 64) - 1
    if v < 0x80:
        return bytes([v])
    for n in range(1, 9):
        prefix_bits = 7 - n if n < 8 else 0
        if v < (1 << (prefix_bits + 8 * n)):
            lead = (0xFF << (8 - n)) & 0xFF
            prefix = (v >> (8 * n)) & ((1 << prefix_bits) - 1) if n < 8 else 0
            body = (v & ((1 << (8 * n)) - 1)).to_bytes(n, "big")
            return bytes([lead | prefix]) + body
    raise ValueError("ltf8 overflow")


class Stream:
    """Per-series byte accumulator."""

    __slots__ = ("buf",)

    def __init__(self):
        self.buf = bytearray()

    def put_itf8(self, v: int) -> None:
        # fast path: the vast majority of data-series values (flags,
        # lengths, small deltas, indices) fit one ITF8 byte — skip the
        # itf8() call + bytes allocation for them (profile: put_itf8 was
        # ~20% of the container encode at 65 calls/record)
        if 0 <= v < 0x80:
            self.buf.append(v)
        else:
            self.buf += itf8(v)

    def put_u8(self, v: int) -> None:
        self.buf.append(v & 0xFF)

    def put_bytes_stop(self, b: bytes, stop: int = 0) -> None:
        self.buf += b
        self.buf.append(stop)

    def put_raw(self, b: bytes) -> None:
        self.buf += b


def encode_block(
    method: int, ctype: int, cid: int, data: bytes, major: int = 2, rans_order: int = 0
) -> bytes:
    if method == 1:
        # mtime=0: the same rows encode to the same bytes at any time
        payload = gzip.compress(data, 6, mtime=0)
    elif method == 4:
        from .rans4x8 import compress as rans_compress

        payload = rans_compress(data, rans_order)
    elif method == 5:
        from .rans_nx16 import compress as nx16_compress

        payload = nx16_compress(data, order=rans_order)
    elif method == 8:
        from .tok3 import encode as tok3_encode

        payload = tok3_encode(data)
    else:
        payload = data
    out = (
        bytes([method, ctype]) + itf8(cid) + itf8(len(payload)) + itf8(len(data)) + payload
    )
    if major >= 3:
        import zlib

        out += struct.pack("<I", zlib.crc32(out))
    return out


def _sub_code(sm: bytes, ref_base: str, read_base: str) -> int | None:
    order = "ACGTN".find(ref_base.upper())
    if order < 0:
        order = 4
        ref_base = "N"
    alts = {"A": "CGTN", "C": "AGTN", "G": "ACTN", "T": "ACGN", "N": "ACGT"}[
        ref_base.upper() if ref_base.upper() in "ACGTN" else "N"
    ]
    i = alts.find(read_base.upper())
    if i < 0:
        return None
    return (sm[order] >> (6 - 2 * i)) & 0x3


def _cigar_tuples(cigar: str) -> list[tuple[int, str]]:
    out = []
    n = 0
    for ch in cigar:
        if ch.isdigit():
            n = n * 10 + int(ch)
        else:
            out.append((n, ch))
            n = 0
    return out


# (sm, ref_byte, read_byte) -> substitution code; distinct keys are tiny
# on real data (one sm per container x <=25 base pairs) but adversarial
# inputs could churn arbitrary byte pairs, so cap-and-clear
_SUB_CODE_MEMO: dict[tuple[bytes, int, int], int | None] = {}


def features_from_alignment(
    seq: str, qual: str, cigar: str, pos: int, ref: bytes, sm: bytes
) -> list[tuple[int, str, object]]:
    """Diff an aligned read against the reference into CRAM features.

    The M/=/X scan is segment-at-a-time: both sides are uppercased ONCE
    and compared as bytes, so a fully-matching run (the overwhelmingly
    common case) costs one C-level equality instead of per-base
    chr/upper/find — only mismatching runs fall back to the per-base
    walk, and the substitution code is memoized per (sm, ref, read)
    byte pair.  Feature values are identical to the per-base form: X
    codes compare case-insensitively, B features carry the ORIGINAL
    (case-preserved) read base."""
    feats: list[tuple[int, str, object]] = []
    read_p = 0  # 0-based
    ref_p = pos - 1
    memo = _SUB_CODE_MEMO
    for n, op in _cigar_tuples(cigar):
        if op in "M=X":
            # reference segment with the out-of-range -> 'N' semantics
            lo = max(0, ref_p)
            core = ref[lo : max(lo, min(len(ref), ref_p + n))].upper()
            b = (b"N" * (lo - ref_p) + core) if ref_p < 0 else core
            if len(b) < n:
                b += b"N" * (n - len(b))
            a = seq[read_p : read_p + n].upper().encode("ascii", "replace")
            if a != b:
                if len(a) != n:
                    raise ValueError(
                        f"CIGAR {cigar!r} implies {n} bases at read offset "
                        f"{read_p} but seq has only {len(a)}"
                    )
                # only the mismatching positions need the per-base walk:
                # one C-level vector compare finds them (same features as
                # scanning range(n), minus the per-matching-base loop cost).
                # numpy imports lazily: header-only / EOF-container uses of
                # this module never hit the alignment path, and sources/
                # keeps numpy a soft dependency elsewhere (ADVICE r11)
                import numpy as _np

                diff = _np.nonzero(
                    _np.frombuffer(a, _np.uint8) != _np.frombuffer(b, _np.uint8)
                )[0]
                for k in diff.tolist():
                    key = (sm, b[k], a[k])
                    try:
                        code = memo[key]
                    except KeyError:
                        if len(memo) > 4096:
                            memo.clear()
                        code = memo[key] = _sub_code(sm, chr(b[k]), chr(a[k]))
                    if code is not None:
                        feats.append((read_p + k + 1, "X", code))
                    else:
                        q = (ord(qual[read_p + k]) - 33) if qual != "*" else 30
                        feats.append(
                            (read_p + k + 1, "B", (ord(seq[read_p + k]), q))
                        )
            read_p += n
            ref_p += n
        elif op == "I":
            feats.append((read_p + 1, "I", seq[read_p : read_p + n].encode()))
            read_p += n
        elif op == "S":
            feats.append((read_p + 1, "S", seq[read_p : read_p + n].encode()))
            read_p += n
        elif op == "D":
            feats.append((read_p + 1, "D", n))
            ref_p += n
        elif op == "N":
            feats.append((read_p + 1, "N", n))
            ref_p += n
        elif op == "H":
            feats.append((read_p + 1, "H", n))
        elif op == "P":
            feats.append((read_p + 1, "P", n))
        else:
            raise ValueError(f"unsupported CIGAR op {op!r} for CRAM encoding")
    return feats


def _tag_value_bytes(spec: str) -> tuple[str, bytes]:
    """Our attributes-map format 'TYPE:value' → (type char, raw bytes)."""
    typ, _, val = spec.partition(":")
    if typ == "Z":
        return "Z", val.encode("ascii", "replace")
    if typ == "H":
        return "H", val.encode("ascii")
    if typ == "A":
        return "A", val[:1].encode("ascii")
    if typ == "i":
        v = int(val)
        if v > 0x7FFFFFFF:
            # parse paths normalize unsigned 'I' tags to 'i:'; round-trip
            # values past int32 back as unsigned (same fix as bam_codec)
            return "I", struct.pack("<I", v)
        return "i", struct.pack("<i", v)
    if typ == "f":
        return "f", struct.pack("<f", float(val))
    if typ == "B":
        sub, _, body = val.partition(",")
        items = body.split(",") if body else []
        fmt = {"c": "<b", "C": "<B", "s": "<h", "S": "<H", "i": "<i", "I": "<I", "f": "<f"}[sub]
        data = bytes([ord(sub)]) + struct.pack("<I", len(items))
        for x in items:
            data += struct.pack(fmt, float(x) if sub == "f" else int(x))
        return "B", data
    return "Z", val.encode("ascii", "replace")


def encode_container(
    rows: list[dict],
    ref_names: list[str],
    rg_ids: list[str],
    fasta: IndexedFasta | None,
    major: int = 2,
    minor: int = 0,
) -> bytes:
    """Encode rows (reads-schema dicts) as one container with one
    multi-reference slice.  ``minor`` only selects the external-block
    codec family: (3,1) files compress externals with rANS Nx16 order-0
    (method 5, the 3.1-native codec); 3.0 keeps rANS 4x8; 2.x gzip."""
    if not rows:
        return b""
    ref_index = {n: i for i, n in enumerate(ref_names)}
    rg_index = {g: i for i, g in enumerate(rg_ids)}
    sm = DEFAULT_SM
    ref_cache: dict[int, bytes] = {}

    def get_ref(ri: int) -> bytes:
        if ri not in ref_cache:
            if fasta is None:
                raise ValueError("CRAM write requires a reference FASTA for mapped reads")
            ref_cache[ri] = fasta.get(ri)
        return ref_cache[ri]

    # tag dictionary over canonicalized (tag, type) lists per record
    tag_lists: list[tuple[tuple[str, str], ...]] = []
    rec_tags: list[list[tuple[str, str, bytes]]] = []
    for r in rows:
        entries = []
        for tag, spec in (r.get("attributes") or {}).items():
            if tag == "RG":
                continue
            typ, data = _tag_value_bytes(spec)
            entries.append((tag, typ, data))
        entries.sort()
        rec_tags.append(entries)
        tag_lists.append(tuple((t, ty) for t, ty, _ in entries))
    td_entries = sorted(set(tag_lists))
    td_index = {e: i for i, e in enumerate(td_entries)}

    streams: dict[str, Stream] = {k: Stream() for k in CID}
    tag_streams: dict[str, tuple[int, int, Stream, Stream]] = {}
    next_cid = _TAG_CID_BASE
    for e in td_entries:
        for tag, typ in e:
            key = tag + typ
            if key not in tag_streams:
                tag_streams[key] = (next_cid, next_cid + 1, Stream(), Stream())
                next_cid += 2

    n_bases = 0
    # hoisted stream bindings: the loop writes ~12 fixed series per record;
    # the streams[...] dict hop + bound-method allocation per write was a
    # measurable slice of the encode profile
    put_bf = streams["BF"].put_itf8
    put_cf = streams["CF"].put_itf8
    put_ri = streams["RI"].put_itf8
    put_rl = streams["RL"].put_itf8
    put_ap = streams["AP"].put_itf8
    put_rg = streams["RG"].put_itf8
    put_rn = streams["RN"].put_bytes_stop
    put_mf = streams["MF"].put_itf8
    put_ns = streams["NS"].put_itf8
    put_np = streams["NP"].put_itf8
    put_ts = streams["TS"].put_itf8
    put_tl = streams["TL"].put_itf8
    put_mq = streams["MQ"].put_itf8
    qs_raw = streams["QS"].put_raw
    ba_raw = streams["BA"].put_raw
    # feature-level bindings append straight to the series bytearrays:
    # features are per-mismatch/per-event (the densest per-record loop),
    # and FC/BS/BA/QS values are already 0..255 (ord of an ASCII feature
    # code / a phred / a substitution code), so the put_u8 masking wrapper
    # is pure overhead there
    put_fn = streams["FN"].put_itf8
    put_fp = streams["FP"].put_itf8
    fc_append = streams["FC"].buf.append
    bs_append = streams["BS"].buf.append
    ba_append = streams["BA"].buf.append
    qs_append = streams["QS"].buf.append
    in_stop = streams["IN"].put_bytes_stop
    sc_stop = streams["SC"].put_bytes_stop
    put_dl = streams["DL"].put_itf8
    put_rs = streams["RS"].put_itf8
    put_pd = streams["PD"].put_itf8
    put_hc = streams["HC"].put_itf8
    for r, tags in zip(rows, rec_tags):
        flag = int(r["flag"] or 0)
        seq = r["seq"] or "*"
        qual = r["qual"] or "*"
        rl = len(seq) if seq != "*" else 0
        n_bases += rl
        cf = 2  # detached
        # QS-preserved only when the decoder's take(rl) will consume exactly
        # what we wrote; a '*'-seq row with quals would shift the stream
        if qual != "*" and len(qual) == rl:
            cf |= 1
        ri = ref_index.get(r["rname"], -1) if r["rname"] else -1
        if ri < 0 and not flag & 0x4:
            raise ValueError(
                f"mapped read {r['qname']!r} references {r['rname']!r}, "
                "which is not in the header @SQ list"
            )
        put_bf(flag)
        put_cf(cf)
        put_ri(ri)
        put_rl(rl)
        put_ap(int(r["pos"] or 0))
        rg_spec = (r.get("attributes") or {}).get("RG", "")
        put_rg(rg_index.get(rg_spec[2:], -1) if rg_spec else -1)
        put_rn((r["qname"] or "*").encode("ascii"))
        # detached mate info
        mf = (1 if flag & 0x20 else 0) | (2 if flag & 0x8 else 0)
        rnext = r.get("rnext")
        ns = ri if rnext == "=" else ref_index.get(rnext, -1) if rnext else -1
        put_mf(mf)
        put_ns(ns)
        put_np(int(r.get("pnext") or 0))
        put_ts(int(r.get("tlen") or 0))
        put_tl(td_index[tuple((t, ty) for t, ty, _ in tags)])
        for tag, typ, data in tags:
            lc, vc, ls, vs = tag_streams[tag + typ]
            ls.put_itf8(len(data))
            vs.put_raw(data)
        if not flag & 0x4:
            feats = features_from_alignment(
                seq, qual, r["cigar"] or f"{rl}M", int(r["pos"]), get_ref(ri), sm
            )
            put_fn(len(feats))
            prev = 0
            for fpos, fc, op in feats:
                put_fp(fpos - prev)
                prev = fpos
                fc_append(ord(fc))
                if fc == "X":
                    bs_append(op)
                elif fc == "I":
                    in_stop(op)
                elif fc == "S":
                    sc_stop(op)
                elif fc == "B":
                    ba_append(op[0])
                    qs_append(op[1])
                elif fc == "D":
                    put_dl(op)
                elif fc == "N":
                    put_rs(op)
                elif fc == "P":
                    put_pd(op)
                elif fc == "H":
                    put_hc(op)
            put_mq(int(r["mapq"] or 0))
            if cf & 1:
                qs_raw(_encode_qual(qual, r["qname"]))
        else:
            ba_raw(seq.encode("ascii") if seq != "*" else b"")
            if cf & 1:
                qs_raw(_encode_qual(qual, r["qname"]))

    # ---- compression header
    ch = bytearray()
    # preservation map: RN=1, AP=0 (absolute), RR=1, SM, TD
    pm = bytearray()
    entries = []
    entries.append(b"RN\x01")
    entries.append(b"AP\x00")
    entries.append(b"RR\x01")
    entries.append(b"SM" + sm)
    td_raw = b"".join(
        b"".join(t.encode() + ty.encode() for t, ty in e) + b"\x00" for e in td_entries
    )
    entries.append(b"TD" + itf8(len(td_raw)) + td_raw)
    pm += itf8(len(entries))
    for e in entries:
        pm += e
    ch += itf8(len(pm)) + pm
    # data series encodings: EXTERNAL / BYTE_ARRAY_STOP
    ds = bytearray()
    used = [k for k in CID if streams[k].buf or k in ("BF", "CF", "RI", "RL", "AP", "RG", "TL")]
    ds += itf8(len(used))
    for k in used:
        ds += k.encode()
        if k in _STOP_SERIES:
            params = bytes([0x00]) + itf8(CID[k])
            ds += itf8(5) + itf8(len(params)) + params
        else:
            params = itf8(CID[k])
            ds += itf8(1) + itf8(len(params)) + params
    ch += itf8(len(ds)) + ds
    # tag encodings: BYTE_ARRAY_LEN(len=EXTERNAL lc, val=EXTERNAL vc)
    te = bytearray()
    te += itf8(len(tag_streams))
    for key, (lc, vc, _ls, _vs) in sorted(tag_streams.items()):
        tag, typ = key[:2], key[2]
        kval = (ord(tag[0]) << 16) | (ord(tag[1]) << 8) | ord(typ)
        lp = itf8(lc)
        vp = itf8(vc)
        params = itf8(1) + itf8(len(lp)) + lp + itf8(1) + itf8(len(vp)) + vp
        te += itf8(kval) + itf8(4) + itf8(len(params)) + params
    ch += itf8(len(te)) + te
    chdr_block = encode_block(0, 1, 0, bytes(ch), major)

    # ---- external blocks
    ext_blocks = []
    content_ids = []
    # 3.1 uses rANS Nx16 for external blocks; 3.0 rANS 4x8; 2.x gzip —
    # quality scores get the order-1 context model in both rANS families
    ext_method = 5 if (major, minor) >= (3, 1) else (4 if major >= 3 else 1)
    for k in used:
        if streams[k].buf:
            content_ids.append(CID[k])
            order = 1 if (k == "QS" and ext_method >= 4) else 0
            # 3.1 read names go through the name tokenizer (method 8) —
            # the codec samtools' default 3.1 profile uses for RN; the
            # stream is already the nul-separated form tok3 expects
            method = 8 if (k == "RN" and (major, minor) >= (3, 1)) else ext_method
            ext_blocks.append(
                encode_block(method, 4, CID[k], bytes(streams[k].buf), major, order)
            )
    for key, (lc, vc, ls, vs) in sorted(tag_streams.items()):
        for cid, s in ((lc, ls), (vc, vs)):
            if s.buf:
                content_ids.append(cid)
                ext_blocks.append(encode_block(ext_method, 4, cid, bytes(s.buf), major))
    core_block = encode_block(0, 5, 0, b"", major)

    # ---- slice header
    sh = bytearray()
    sh += itf8(-2)  # multiref
    sh += itf8(0)  # start
    sh += itf8(0)  # span
    sh += itf8(len(rows))
    sh += ltf8(0) if major >= 3 else itf8(0)  # record counter
    sh += itf8(1 + len(ext_blocks))  # core + externals
    sh += itf8(len(content_ids))
    for cid in content_ids:
        sh += itf8(cid)
    sh += itf8(-1)  # no embedded reference
    sh += b"\x00" * 16  # md5 unset (multiref)
    slice_block = encode_block(0, 2, 0, bytes(sh), major)

    body = chdr_block + slice_block + core_block + b"".join(ext_blocks)
    landmark = len(chdr_block)

    hdr = bytearray()
    hdr += struct.pack("<i", len(body))
    hdr += itf8(-2)
    hdr += itf8(0)
    hdr += itf8(0)
    hdr += itf8(len(rows))
    hdr += ltf8(0) if major >= 3 else itf8(0)  # record counter (spec §8)
    hdr += ltf8(n_bases)
    hdr += itf8(1 + 1 + 1 + len(ext_blocks))  # chdr + slice-hdr + core + ext
    hdr += itf8(1)
    hdr += itf8(landmark)
    if major >= 3:
        import zlib

        hdr += struct.pack("<I", zlib.crc32(bytes(hdr)))
    return bytes(hdr) + body


def encode_file_header_container(header_text: str, major: int = 2) -> bytes:
    data = struct.pack("<i", len(header_text.encode())) + header_text.encode()
    block = encode_block(0, 0, 0, data, major)
    hdr = bytearray()
    hdr += struct.pack("<i", len(block))
    for _ in range(4):
        hdr += itf8(0)
    hdr += ltf8(0) if major >= 3 else itf8(0)  # record counter (spec §8)
    hdr += ltf8(0)
    hdr += itf8(1)
    hdr += itf8(1)
    hdr += itf8(0)
    if major >= 3:
        import zlib

        hdr += struct.pack("<I", zlib.crc32(bytes(hdr)))
    return bytes(hdr) + block


def file_definition(file_id: bytes = b"", major: int = 2, minor: int = 1) -> bytes:
    fid = (file_id or b"disq-pyspark")[:20].ljust(20, b"\x00")
    return CRAM_MAGIC + bytes([major, minor]) + fid


def eof_container(major: int = 2) -> bytes:
    if major < 3:
        return EOF_CONTAINER
    # build the v3 EOF container (same fields, with CRC32s)
    import zlib

    block = encode_block(0, 1, 0, bytes(itf8(1) + itf8(0) + itf8(1) + itf8(0) + itf8(1) + itf8(0)), 3)
    hdr = bytearray()
    hdr += struct.pack("<i", len(block))
    hdr += itf8(-1)
    hdr += itf8(4_542_278)
    hdr += itf8(0)
    hdr += itf8(0)
    hdr += ltf8(0)  # v3-only container: counter is LTF8 here by definition
    hdr += ltf8(0)
    hdr += itf8(1)
    hdr += itf8(0)
    hdr += struct.pack("<I", zlib.crc32(bytes(hdr)))
    return bytes(hdr) + block


def write_cram(
    path: str | Path,
    rows: list[dict],
    header_text: str,
    reference_path: str | Path | None = None,
    records_per_container: int = 10000,
    version: tuple[int, int] = (2, 1),
) -> None:
    """Driver-side whole-file CRAM write (the Spark sink writes container
    parts per partition and concatenates)."""
    from .headers import header_ref_and_rg_names

    ref_names, rg_ids = header_ref_and_rg_names(header_text)
    fasta = IndexedFasta(reference_path) if reference_path else None
    major, minor = version
    from .fsio import fs_output

    with fs_output(str(path)) as fh:
        fh.write(file_definition(major=major, minor=minor))
        fh.write(encode_file_header_container(header_text, major))
        for i in range(0, len(rows), records_per_container):
            fh.write(
                encode_container(
                    rows[i : i + records_per_container],
                    ref_names,
                    rg_ids,
                    fasta,
                    major,
                    minor,
                )
            )
        fh.write(eof_container(major))
