r"""BCF 2.2 source and sink — beyond the reference, whose support matrix
marks BCF ✗ (reference ``README.md:30-38``: the htsjdk-based VCF path there
never grew a binary twin).  Implemented from the public VCFv4.3/BCFv2.2
specification (samtools/hts-specs, BCFv2_qref.pdf), from scratch, on top of
this repo's own BGZF layer — the same posture as the CRAM codec.

Layout (spec §6.2): BGZF-compressed stream of

    magic "BCF\2\2" | l_text (uint32) | header text (NUL-terminated)
    per record: l_shared (uint32) | l_indiv (uint32)
      shared: CHROM rid (int32) | POS 0-based (int32) | rlen (int32)
              | QUAL (float, 0x7F800001 = missing)
              | n_allele<<16 \| n_info (uint32)
              | n_fmt<<24 \| n_sample (uint32)
              | ID (typed str) | alleles × typed str | FILTER typed int vec
              | n_info × (typed int key, typed value)
      indiv:  n_fmt × (typed int key, typed vector of n_sample values)
    EOF: the 28-byte BGZF empty block

Typed values (spec §6.2.1): descriptor byte = len<<4 | type (len 15 ⇒ a
following typed int carries the true length); types 1/2/3 = int8/16/32,
5 = float, 7 = char.  Sentinels: int MISSING = 0x80/0x8000/0x80000000,
END_OF_VECTOR = MISSING+1; float MISSING = 0x7F800001, END = 0x7F800002.
GT is the spec's special int encoding: (allele+1)<<1 | phased, '.' = 0,
short ploidy padded with END_OF_VECTOR.

The string dictionary is implicit (IDX= is not emitted): "PASS" at 0, then
FILTER/INFO/FORMAT IDs in order of first appearance; contigs in ##contig
order — both exactly as the spec prescribes for headers without IDX.

Typed-format contract: BCF stores VALUES, not text — float formatting is
not preserved (``0.50`` round-trips as ``0.5``, exactly as ``bcftools
view`` reformats), trailing per-sample fields that are entirely missing
are omitted, everything else round-trips byte-identically.  Floats decode
via the shortest float32-unique representation so every value the text
parser produced survives bit-for-bit.

Reads are splittable WHEN a ``.csi`` sits beside the file (the sink
writes one at write time with ``write_index=True``, folding the parts'
index metadata exactly like the .bai/.tbi/.crai paths): the index's chunk list
(``tabix.index_chunks``, which refuses an index pointing past end-of-file)
supplies record-aligned virtual-offset ranges grouped into tasks, and
interval queries prune to overlapping chunks before any decompression.
Without an index a file is one task — BCF records carry no in-stream
boundary marker.  Directory inputs additionally fan out per shard.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .fsio import get_fs
from .headers import read_vcf_header_text  # noqa: F401  (re-exported convenience)
from .merger import PartFormat, commit, commit_sharded

MAGIC = b"BCF\x02\x02"

_INT8, _INT16, _INT32, _FLOAT, _CHAR = 1, 2, 3, 5, 7

_INT_MISSING = {1: -128, 2: -32768, 3: -2147483648}
_INT_EOV = {1: -127, 2: -32767, 3: -2147483647}
_INT_FMT = {1: "<b", 2: "<h", 3: "<i"}
# spec: int8/int16 values below MISSING+7 are reserved; usable minimum
_INT_LO = {1: -120, 2: -32760, 3: -2147483640}
_INT_HI = {1: 127, 2: 32767, 3: 2147483647}

_FLOAT_MISSING_BITS = 0x7F800001
_FLOAT_EOV_BITS = 0x7F800002


# --------------------------------------------------------------- header context
def _hdr_attrs(body: str) -> dict[str, str]:
    """Parse the ``k=v,k=v`` body of a ``##X=<...>`` header line into a dict,
    splitting on commas OUTSIDE double quotes (Description values legally
    contain commas and even ``ID=`` lookalikes).  Backslash-escaped quotes
    inside quoted values (VCF 4.3 §1.2: ``\\"``) stay INSIDE the quote —
    they must not toggle the in-quote state, or Description text leaks out
    as spurious attributes."""
    attrs: dict[str, str] = {}
    key, buf, in_q, esc, reading_key = "", "", False, False, True
    for ch in body + ",":
        if in_q:
            buf += ch
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_q = False
        elif ch == '"':
            buf += ch
            in_q = True
        elif reading_key and ch == "=":
            key, buf, reading_key = buf, "", False
        elif ch == "," and not reading_key:
            attrs[key] = buf.strip('"')
            key, buf, reading_key = "", "", True
        elif ch == "," and reading_key:
            buf, reading_key = "", True
        else:
            buf += ch
    return attrs


class BcfContext:
    """Dictionaries + type declarations derived from the header text.

    Dictionary construction follows BCFv2.2 §6.2.1: when header lines carry
    explicit ``IDX=`` attributes (bcftools emits them, e.g. after header
    subsetting) the string/contig dictionaries are built FROM those indices;
    otherwise the implicit first-appearance order applies ("PASS" at 0,
    then FILTER/INFO/FORMAT IDs in order; contigs in ##contig order).
    Mixing indexed and unindexed lines within a dictionary is rejected —
    the spec requires IDX on all lines once any line has it."""

    def __init__(self, header_text: str):
        from ..operators.variants import parse_declarations

        if not header_text.endswith("\n"):
            header_text += "\n"
        self.header_text = header_text
        contig_entries: list[tuple[str, int | None]] = []
        string_entries: list[tuple[str, int | None]] = [("PASS", None)]
        seen = {"PASS"}
        for line in header_text.splitlines():
            if line.startswith("##contig=<"):
                attrs = _hdr_attrs(line[len("##contig=<") : -1].rstrip(">"))
                if "ID" in attrs:
                    idx = int(attrs["IDX"]) if "IDX" in attrs else None
                    contig_entries.append((attrs["ID"], idx))
            elif line.startswith(("##FILTER=<", "##INFO=<", "##FORMAT=<")):
                attrs = _hdr_attrs(line.split("<", 1)[1].rstrip(">"))
                i = attrs.get("ID")
                if i is None:
                    continue
                idx = int(attrs["IDX"]) if "IDX" in attrs else None
                if i == "PASS":
                    # an explicit FILTER=<ID=PASS,IDX=n> pins PASS's slot
                    string_entries[0] = ("PASS", idx)
                elif i not in seen:
                    seen.add(i)
                    string_entries.append((i, idx))
                elif idx is not None:
                    # same ID re-declared (INFO + FORMAT share a slot):
                    # conflicting IDX values would corrupt every decode
                    prev = next(e for e in string_entries if e[0] == i)
                    if prev[1] is not None and prev[1] != idx:
                        raise ValueError(
                            f"BCF header: conflicting IDX for {i!r}: "
                            f"{prev[1]} vs {idx}"
                        )
        self.contigs = _build_dict(contig_entries, "contig")
        self.strings = _build_dict(string_entries, "string")
        self.string_idx = {s: i for i, s in enumerate(self.strings) if s is not None}
        self.contig_idx = {c: i for i, c in enumerate(self.contigs) if c is not None}
        self.info_types = parse_declarations(header_text, "INFO")
        self.fmt_types = parse_declarations(header_text, "FORMAT")
        chrom = next(
            (l for l in header_text.splitlines() if l.startswith("#CHROM")), ""
        )
        cols = chrom.split("\t")
        self.samples = cols[9:] if len(cols) > 9 else []


def _build_dict(entries: list[tuple[str, int | None]], kind: str) -> list:
    """First-appearance order when no entry carries IDX; explicit placement
    when all do.  PASS's implicit slot 0 coexists with indexed FILTER lines
    only if nothing else claims index 0."""
    explicit = [(n, i) for n, i in entries if i is not None]
    if not explicit:
        return [n for n, _ in entries]
    implicit = [
        (n, i) for n, i in entries if i is None and not (kind == "string" and n == "PASS")
    ]
    if implicit:
        raise ValueError(
            f"BCF header: {kind} dictionary mixes IDX= and non-IDX lines "
            f"(first unindexed: {implicit[0][0]!r}); the spec requires IDX "
            "on every line once any line carries it"
        )
    size = max(i for _n, i in explicit) + 1
    out: list = [None] * size
    for n, i in explicit:
        if out[i] is not None and out[i] != n:
            raise ValueError(
                f"BCF header: duplicate {kind} IDX {i}: {out[i]!r} vs {n!r}"
            )
        out[i] = n
    if (
        kind == "string"
        and "PASS" not in out
        and all(i != 0 for _n, i in explicit)
    ):
        # PASS keeps its spec-guaranteed slot 0 ONLY when no line indexes
        # it elsewhere and nothing else claims slot 0 (a PASS pinned at
        # IDX=n must not also appear at 0)
        out[0] = "PASS"
    return out


# --------------------------------------------------------------- typed encoders
def _desc(type_id: int, length: int) -> bytes:
    if length < 15:
        return bytes([(length << 4) | type_id])
    return bytes([0xF0 | type_id]) + _typed_int(length)


def _int_width(vals: list[int]) -> int:
    for w in (1, 2, 3):
        if all(_INT_LO[w] <= v <= _INT_HI[w] for v in vals):
            return w
    raise ValueError(f"integer out of BCF range: {vals}")


def _typed_int(v: int) -> bytes:
    w = _int_width([v])
    return _desc(w, 1) + struct.pack(_INT_FMT[w], v)


def _typed_int_vec(vals: list[int | None]) -> bytes:
    """None elements become MISSING."""
    if not vals:
        return _desc(_INT8, 0)
    concrete = [v for v in vals if v is not None]
    w = _int_width(concrete or [0])
    out = [v if v is not None else _INT_MISSING[w] for v in vals]
    return _desc(w, len(out)) + b"".join(struct.pack(_INT_FMT[w], v) for v in out)


def _typed_float_vec(vals: list[float | None]) -> bytes:
    out = bytearray(_desc(_FLOAT, len(vals)))
    for v in vals:
        if v is None:
            out += struct.pack("<I", _FLOAT_MISSING_BITS)
        else:
            out += struct.pack("<f", np.float32(v))
    return bytes(out)


def _typed_str(s: str | None) -> bytes:
    if s is None or s == "":
        return _desc(_CHAR, 0)
    b = s.encode()
    return _desc(_CHAR, len(b)) + b


def _fmt_float32(f: float) -> str:
    """Shortest decimal that round-trips through float32 — the decode-side
    twin of the encoder's np.float32 cast, so '0.017' survives exactly."""
    return np.format_float_positional(np.float32(f), unique=True, trim="-")


# --------------------------------------------------------------- record encode
def _split_gt(gt: str) -> tuple[list[int | None], list[bool]]:
    alleles: list[int | None] = []
    phased: list[bool] = []
    tok = ""
    sep = "/"
    for ch in gt + "/":
        if ch in "/|":
            alleles.append(None if tok in (".", "") else int(tok))
            phased.append(sep == "|")
            sep = ch
            tok = ""
        else:
            tok += ch
    return alleles, phased


def _encode_gt_vec(gts: list[str | None]) -> bytes:
    per = []
    for gt in gts:
        if gt is None or gt == "":
            per.append([_gt_val(None, False)])
        else:
            alleles, phased = _split_gt(gt)
            per.append(
                [
                    _gt_val(a, False if i == 0 else phased[i])
                    for i, a in enumerate(alleles)
                ]
            )
    width = max(len(p) for p in per)
    # int width from the largest encoded value: >62 ALT alleles legally
    # overflows int8 ((allele+1)<<1|phase > 127) and the spec then requires
    # int16/int32 GT vectors (mirrored by the type-aware decoder)
    w = _int_width([v for p in per for v in p] or [0])
    vals: list[int] = []
    for p in per:
        vals.extend(p + [_INT_EOV[w]] * (width - len(p)))
    return _desc(w, width) + b"".join(struct.pack(_INT_FMT[w], v) for v in vals)


def _gt_val(allele: int | None, phased: bool) -> int:
    base = 0 if allele is None else (allele + 1) << 1
    return base | (1 if phased else 0)


def _parse_ints(s: str) -> list[int | None]:
    return [None if t in (".", "") else int(t) for t in s.split(",")]


def _parse_floats(s: str) -> list[float | None]:
    return [None if t in (".", "") else float(t) for t in s.split(",")]


def _as_map(m) -> dict:
    if m is None:
        return {}
    return m if isinstance(m, dict) else dict(m)


def encode_record(row: dict, ctx: BcfContext) -> bytes:
    contig, pos, ref = row["contig"], row["pos"], row["ref"]
    alts_raw = row.get("alts")
    alts = [] if alts_raw is None else list(alts_raw)
    info = _as_map(row.get("info"))
    filters = row.get("filters")
    genos_raw = row.get("genotypes")
    genos = [] if genos_raw is None else list(genos_raw)

    shared = bytearray()
    shared += struct.pack("<i", ctx.contig_idx[contig])
    shared += struct.pack("<i", int(pos) - 1)
    shared += struct.pack("<i", len(ref))
    qual = row.get("qual")
    if qual is None:
        shared += struct.pack("<I", _FLOAT_MISSING_BITS)
    else:
        shared += struct.pack("<f", np.float32(qual))
    n_allele = 1 + len(alts)
    shared += struct.pack("<I", (n_allele << 16) | (len(info) & 0xFFFF))

    # FORMAT keys: GT first (spec convention), then stable union across samples
    fmt_keys: list[str] = []
    for g in genos:
        attrs = _as_map(g["attrs"] if isinstance(g, dict) else g.attrs)
        for k in attrs:
            if k not in fmt_keys:
                fmt_keys.append(k)
    if "GT" in fmt_keys:
        fmt_keys.remove("GT")
        fmt_keys.insert(0, "GT")
    shared += struct.pack("<I", (len(fmt_keys) << 24) | len(genos))

    shared += _typed_str(row.get("id"))
    shared += _typed_str(ref)
    for a in alts:
        shared += _typed_str(a)
    if filters is None:
        shared += b"\x00"  # typed MISSING (type 0): '.' — distinct from PASS
    else:
        if list(filters) == []:
            # empty filters == PASS, at PASS's dictionary slot (0 for the
            # implicit dictionary; IDX dictionaries may pin it elsewhere)
            if "PASS" not in ctx.string_idx:
                raise ValueError(
                    "cannot encode PASS filters: 'PASS' is not in the BCF "
                    "header string dictionary (spec §6.2 seeds it at IDX=0 "
                    "unless the header's IDX= annotations claim slot 0 for "
                    "another FILTER without declaring PASS)"
                )
            shared += _typed_int_vec([ctx.string_idx["PASS"]])
        else:
            shared += _typed_int_vec([ctx.string_idx[f] for f in filters])
    for k, v in info.items():
        shared += _typed_int(ctx.string_idx[k])
        number, vtype = ctx.info_types.get(k, ("1", "String"))
        if vtype == "Flag":
            shared += _desc(_INT8, 1) + struct.pack("<b", 1)
        elif v in (".", ""):
            shared += _desc(_CHAR, 0) if vtype in ("String", "Character") else (
                _typed_int_vec([None]) if vtype == "Integer" else _typed_float_vec([None])
            )
        elif vtype == "Integer":
            shared += _typed_int_vec(_parse_ints(v))
        elif vtype == "Float":
            shared += _typed_float_vec(_parse_floats(v))
        else:
            shared += _typed_str(v)

    indiv = bytearray()
    for k in fmt_keys:
        indiv += _typed_int(ctx.string_idx[k])
        per_sample = []
        for g in genos:
            attrs = _as_map(g["attrs"] if isinstance(g, dict) else g.attrs)
            per_sample.append(attrs.get(k))
        number, vtype = ctx.fmt_types.get(k, ("1", "String"))
        if k == "GT":
            indiv += _encode_gt_vec(per_sample)
        elif vtype == "Integer":
            parsed = [
                _parse_ints(v) if v not in (None, "", ".") else [None]
                for v in per_sample
            ]
            width = max(len(p) for p in parsed)
            concrete = [x for p in parsed for x in p if x is not None]
            w = _int_width(concrete or [0])
            vals: list[int] = []
            for p in parsed:
                vals.extend(
                    [x if x is not None else _INT_MISSING[w] for x in p]
                    + [_INT_EOV[w]] * (width - len(p))
                )
            indiv += _desc(w, width) + b"".join(
                struct.pack(_INT_FMT[w], x) for x in vals
            )
        elif vtype == "Float":
            parsed = [
                _parse_floats(v) if v not in (None, "", ".") else [None]
                for v in per_sample
            ]
            width = max(len(p) for p in parsed)
            out = bytearray(_desc(_FLOAT, width))
            for p in parsed:
                for x in p:
                    if x is None:
                        out += struct.pack("<I", _FLOAT_MISSING_BITS)
                    else:
                        out += struct.pack("<f", np.float32(x))
                for _ in range(width - len(p)):
                    out += struct.pack("<I", _FLOAT_EOV_BITS)
            indiv += out
        else:
            # per-sample String/Character (e.g. bcftools' FT): one char
            # vector of fixed width per sample, NUL-padded, '.' = missing
            # (htslib convention) — decode-side twin strips the padding
            encoded = [
                ("." if v in (None, "") else str(v)).encode() for v in per_sample
            ]
            width = max((len(b) for b in encoded), default=1) or 1
            indiv += _desc(_CHAR, width) + b"".join(
                b.ljust(width, b"\x00") for b in encoded
            )

    return (
        struct.pack("<II", len(shared), len(indiv)) + bytes(shared) + bytes(indiv)
    )


# --------------------------------------------------------------- record decode

# record framing structs, compiled once: (l_shared, l_indiv) and the fixed
# site block (rid, pos0, rlen, qual-bits, n_allele_info, n_fmt_sample)
_REC_LEN_STRUCT = struct.Struct("<II")
_REC_FIXED_STRUCT = struct.Struct("<iiiIII")
_SITE_STRING_FIELDS = frozenset(("id", "ref", "alts", "filters", "info"))

# (type char, length) -> compiled little-endian vector Struct; bounded so
# adversarial vector lengths cannot grow the memo unboundedly (misses fall
# through to a one-off Struct, still correct)
_VEC_STRUCTS: dict[tuple[str, int], struct.Struct] = {}
_VEC_STRUCTS_CAP = 4096


def _vec_struct(ch: str, ln: int) -> struct.Struct:
    key = (ch, ln)
    st = _VEC_STRUCTS.get(key)
    if st is None:
        st = struct.Struct(f"<{ln}{ch}")
        if len(_VEC_STRUCTS) < _VEC_STRUCTS_CAP:
            _VEC_STRUCTS[key] = st
    return st


class _Reader:
    def __init__(self, data: bytes, off: int = 0):
        self.d = data
        self.o = off

    def u32(self) -> int:
        v = struct.unpack_from("<I", self.d, self.o)[0]
        self.o += 4
        return v

    def i32(self) -> int:
        v = struct.unpack_from("<i", self.d, self.o)[0]
        self.o += 4
        return v

    def f32_bits(self) -> int:
        v = struct.unpack_from("<I", self.d, self.o)[0]
        self.o += 4
        return v

    def typed(self):
        """Decode one typed value → (type_id, tuple_of_raw_values)."""
        t, vals, self.o = _typed(self.d, self.o)
        return t, vals


def _typed(d: bytes, o: int) -> tuple[int, tuple, int]:
    """Decode one typed value at ``o`` → (type_id, values, new_offset).

    Hot path of the whole BCF decode (~34 calls/record on real
    callsets): a plain function over local offsets (the r11 third pass —
    the _Reader attribute store per call was a measurable slice of the
    decode profile), vector formats through memoized ``struct.Struct``
    objects, the two dominant shapes — single int8 (dictionary indexes)
    and CHAR — special-cased.  Values are returned as the unpack tuples
    themselves (no list() copy), which also makes them hashable keys for
    the value→string memos below.  Values identical by construction."""
    b = d[o]
    o += 1
    t, ln = b & 0x0F, b >> 4
    if ln == 15:
        _t2, v2, o = _typed(d, o)
        ln = v2[0]
    if t == 0:
        return t, (), o
    if t == _CHAR:
        return t, (d[o : o + ln].decode(),), o + ln
    if t == _FLOAT:
        return t, _vec_struct("I", ln).unpack_from(d, o), o + 4 * ln
    if t == _INT8:
        if ln == 1:
            v = d[o]
            return t, (v - 256 if v >= 128 else v,), o + 1
        return t, _vec_struct("b", ln).unpack_from(d, o), o + ln
    fmt, w = _INT_FMT[t], (2 if t == _INT16 else 4)
    return t, _vec_struct(fmt[1], ln).unpack_from(d, o), o + w * ln


def _ints_to_str(t: int, vals: tuple[int, ...]) -> str | None:
    eov = _INT_EOV[t] if t in _INT_EOV else _INT_EOV[_INT8]
    miss = _INT_MISSING[t]
    parts = []
    present = False
    for v in vals:
        if v == eov:
            break
        if v == miss:
            parts.append(".")
        else:
            parts.append(str(v))
            present = True
    return ",".join(parts) if present else None


# float-bit-pattern -> canonical string memo: the formatter
# (np.format_float_positional through float32) dominated the BCF decode
# profile at ~23%, and real callsets repeat a small set of float values
# (AF bins, rounded qualities).  Keyed on the exact 32-bit pattern, so a
# hit is bit-identical to a recompute; bounded so adversarial inputs
# with millions of distinct floats cannot grow it past ~2 MB.
_FLOAT_STR_MEMO: dict[int, str] = {}
_FLOAT_STR_MEMO_CAP = 65536


def _float_bits_to_str(b: int) -> str:
    s = _FLOAT_STR_MEMO.get(b)
    if s is None:
        s = _fmt_float32(struct.unpack("<f", struct.pack("<I", b))[0])
        if len(_FLOAT_STR_MEMO) < _FLOAT_STR_MEMO_CAP:
            _FLOAT_STR_MEMO[b] = s
    return s


def _floats_to_str(bits: tuple[int, ...]) -> str | None:
    parts = []
    present = False
    for b in bits:
        if b == _FLOAT_EOV_BITS:
            break
        if b == _FLOAT_MISSING_BITS:
            parts.append(".")
        else:
            parts.append(_float_bits_to_str(b))
            present = True
    return ",".join(parts) if present else None


def _gt_to_str(t: int, vals: tuple[int, ...]) -> str | None:
    """Type-aware: int16/int32 GT vectors (>62 ALT alleles, or bcftools
    output) use their OWN type's END_OF_VECTOR/MISSING sentinels — matching
    on the int8 sentinels alone turns padding into spurious '/.' alleles."""
    eov, miss = _INT_EOV[t], _INT_MISSING[t]
    out = ""
    for i, v in enumerate(vals):
        if v == eov:
            break
        a = -1 if v == miss else (v >> 1) - 1
        tok = "." if a < 0 else str(a)
        out += tok if i == 0 else (("|" if v & 1 else "/") + tok)
    # a lone missing allele is the encoder's placeholder for "sample has no
    # GT at all" — decode it back to absent ('./.'-style diploid missing
    # stays explicit)
    return None if out in ("", ".") else out


# Per-sample value→string memos (r11 third pass): real callsets repeat a
# small set of FORMAT values per key family (GQ bins, DP counts, diploid
# GT patterns, GL triples at common likelihood bins), so the converted
# string is memoized on the exact (type_id, raw values) key — a hit is
# identical to a recompute by construction.  ``None`` ("value absent") is
# a legal memo payload, so lookups use the _ABSENT sentinel.  Bounded so
# adversarial inputs cannot grow them unboundedly.
_ABSENT = object()
_VAL_STR_MEMO_CAP = 65536
_INT_STR_MEMO: dict[tuple[int, tuple], str | None] = {}
_FVEC_STR_MEMO: dict[tuple, str | None] = {}
_GT_STR_MEMO: dict[tuple[int, tuple], str | None] = {}


def decode_record(
    r: _Reader, ctx: BcfContext, fields: frozenset[str] | None = None
) -> dict:
    """``fields`` prunes the decode at BLOCK granularity: the spec's
    l_shared/l_indiv framing means the whole per-sample genotype block —
    the dominant decode cost on wide callsets — skips with one offset
    assignment when 'genotypes' is not requested, and a site-string walk
    (ID/alleles/FILTER/INFO) is skipped entirely when no site string is
    requested.  ``fields=None`` keeps the full-schema behavior."""

    d = r.d
    o = r.o
    l_shared, l_indiv = _REC_LEN_STRUCT.unpack_from(d, o)
    o += 8
    shared_end = o + l_shared
    end = o + l_shared + l_indiv
    # fixed site block: rid, pos0, rlen (derivable), qual bits, n_ai, n_fs
    rid, pos0, _rlen, qbits, n_ai, n_fs = _REC_FIXED_STRUCT.unpack_from(d, o)
    o += 24
    qual = (
        None
        if qbits == _FLOAT_MISSING_BITS
        else float(struct.unpack("<f", struct.pack("<I", qbits))[0])
    )
    n_allele, n_info = n_ai >> 16, n_ai & 0xFFFF
    n_fmt, n_sample = n_fs >> 24, n_fs & 0xFFFFFF
    vid, alleles, filters, info = None, [], None, {}
    strings = ctx.strings
    if fields is not None and fields.isdisjoint(_SITE_STRING_FIELDS):
        o = shared_end  # skip the whole site-string walk in O(1)
    else:
        _t, idv, o = _typed(d, o)
        vid = idv[0] if idv and idv[0] != "" else None
        for _ in range(n_allele):
            _t, a, o = _typed(d, o)
            alleles.append(a[0] if a else "")
        ft, fv, o = _typed(d, o)
        _pass_idx = ctx.string_idx.get("PASS")  # None: PASS never declared
        if ft == 0:
            filters = None
        elif _pass_idx is not None and fv == (_pass_idx,):
            filters = []
        else:
            # No default-to-0 when PASS is absent: a fully-IDX'd header that
            # assigns slot 0 to a real FILTER must decode [0] as that filter,
            # not silently as PASS (the encode twin above refuses to emit
            # PASS in that situation, so round-trips stay symmetric).
            filters = [strings[i] for i in fv]
        if fields is not None and "info" not in fields:
            o = shared_end  # INFO is last in the shared block
        else:
            info_types = ctx.info_types
            for _ in range(n_info):
                # key: a single int8 dictionary index on real callsets —
                # inline that shape (0x11 = len 1 << 4 | INT8)
                if d[o] == 0x11:
                    v = d[o + 1]
                    key = strings[v - 256 if v >= 128 else v]
                    o += 2
                else:
                    _t, kv, o = _typed(d, o)
                    key = strings[kv[0]]
                t, vals, o = _typed(d, o)
                vtype = info_types.get(key, ("1", "String"))[1]
                if vtype == "Flag":
                    info[key] = ""
                elif t == _CHAR:
                    info[key] = vals[0] if vals and vals[0] != "" else "."
                elif t == _FLOAT:
                    sval = _FVEC_STR_MEMO.get(vals, _ABSENT)
                    if sval is _ABSENT:
                        sval = _floats_to_str(vals)
                        if len(_FVEC_STR_MEMO) < _VAL_STR_MEMO_CAP:
                            _FVEC_STR_MEMO[vals] = sval
                    info[key] = sval or "."
                else:
                    sval = _INT_STR_MEMO.get((t, vals), _ABSENT)
                    if sval is _ABSENT:
                        sval = _ints_to_str(t, vals)
                        if len(_INT_STR_MEMO) < _VAL_STR_MEMO_CAP:
                            _INT_STR_MEMO[(t, vals)] = sval
                    info[key] = sval or "."
    if fields is not None and "genotypes" not in fields:
        # the spec's l_indiv framing makes the per-sample block — the
        # dominant decode cost on wide callsets — one offset assignment;
        # the dict list is not even allocated (it would be n_sample dicts
        # per record, discarded by the row filter below)
        o = end
        n_fmt = 0
        genotypes: list[dict] = []
    else:
        genotypes = [
            {"sample": s, "gt": None, "attrs": {}} for s in ctx.samples[:n_sample]
        ]
    if n_fmt:
        # per-sample attr dicts prebound: the genotypes[si]["attrs"] double
        # hop was per sample PER KEY on wide callsets
        attrs_by_sample = [g["attrs"] for g in genotypes]
        for _ in range(n_fmt):
            if d[o] == 0x11:
                v = d[o + 1]
                key = strings[v - 256 if v >= 128 else v]
                o += 2
            else:
                _t, kv, o = _typed(d, o)
                key = strings[kv[0]]
            b = d[o]
            o += 1
            t, width = b & 0x0F, b >> 4
            if width == 15:
                _tt, wv, o = _typed(d, o)
                width = wv[0]
            # per-sample vectors unpack in ONE struct call each (the typed()
            # batching, applied to the dominant per-sample block), through
            # the same memoized Struct objects _typed uses; the converted
            # string comes from the bounded value→string memos (split
            # per-type loops keep the per-sample body branch-free)
            if t == _FLOAT:
                unpack = _vec_struct("I", width).unpack_from
                for si in range(n_sample):
                    bits = unpack(d, o)
                    o += 4 * width
                    sval = _FVEC_STR_MEMO.get(bits, _ABSENT)
                    if sval is _ABSENT:
                        sval = _floats_to_str(bits)
                        if len(_FVEC_STR_MEMO) < _VAL_STR_MEMO_CAP:
                            _FVEC_STR_MEMO[bits] = sval
                    if sval is not None:
                        attrs_by_sample[si][key] = sval
                        if key == "GT":
                            genotypes[si]["gt"] = sval
            elif t == _CHAR:
                # per-sample string: `width` bytes, NUL-padded (spec §6.2.1
                # / htslib bcf_str_vector_end); '.' = missing
                for si in range(n_sample):
                    raw_s = d[o : o + width].rstrip(b"\x00").decode()
                    o += width
                    if raw_s not in ("", "."):
                        attrs_by_sample[si][key] = raw_s
                        if key == "GT":
                            genotypes[si]["gt"] = raw_s
            elif t in _INT_FMT:
                w = 1 if t == _INT8 else 2 if t == _INT16 else 4
                unpack = _vec_struct(_INT_FMT[t][1], width).unpack_from
                step = w * width
                memo = _GT_STR_MEMO if key == "GT" else _INT_STR_MEMO
                conv = _gt_to_str if key == "GT" else _ints_to_str
                if key == "GT":
                    for si in range(n_sample):
                        raw = unpack(d, o)
                        o += step
                        sval = memo.get((t, raw), _ABSENT)
                        if sval is _ABSENT:
                            sval = conv(t, raw)
                            if len(memo) < _VAL_STR_MEMO_CAP:
                                memo[(t, raw)] = sval
                        if sval is not None:
                            attrs_by_sample[si][key] = sval
                            genotypes[si]["gt"] = sval
                else:
                    for si in range(n_sample):
                        raw = unpack(d, o)
                        o += step
                        sval = memo.get((t, raw), _ABSENT)
                        if sval is _ABSENT:
                            sval = conv(t, raw)
                            if len(memo) < _VAL_STR_MEMO_CAP:
                                memo[(t, raw)] = sval
                        if sval is not None:
                            attrs_by_sample[si][key] = sval
            else:
                raise ValueError(
                    f"BCF FORMAT {key}: unsupported typed-value type id {t}"
                )
    r.o = end
    row = {
        "contig": ctx.contigs[rid],
        "pos": pos0 + 1,
        "id": vid,
        "ref": alleles[0] if alleles else "",
        "alts": alleles[1:],
        "qual": qual,
        "filters": filters,
        "info": info,
        "genotypes": genotypes,
    }
    if fields is not None:
        row = {k: row[k] for k in row if k in fields}
    return row




def decode_record_loud(
    r: _Reader, ctx: BcfContext, fields: frozenset[str] | None, src: str
) -> dict:
    """decode_record behind the codec fail-loud contract (the posture the
    rANS/CRAM layers adopted in r6): corrupt or truncated record bytes
    surface as ONE named ValueError carrying the source and byte offset,
    never a bare IndexError/struct.error/KeyError/UnicodeDecodeError from
    deep in the typed-value machinery."""
    start = r.o
    try:
        return decode_record(r, ctx, fields)
    except ValueError:
        raise
    except (
        IndexError,
        struct.error,
        KeyError,
        TypeError,
        UnicodeDecodeError,
        OverflowError,
    ) as exc:
        raise ValueError(
            f"{src}: corrupt or truncated BCF record at byte {start} "
            f"({type(exc).__name__}: {exc})"
        ) from exc


# --------------------------------------------------------------- source / sink
class BcfSource:
    """BGZF BCF → variants DataFrame (schema identical to VcfSource).

    With a ``.csi`` beside the file (written by :class:`BcfSink`'s
    ``write_index=True`` or any external indexer), reads are SPLITTABLE:
    the index's chunk list supplies record-aligned virtual-offset ranges,
    grouped into ~``split_size`` tasks, and interval queries prune to the
    overlapping chunks before any decompression.  Without an index a file
    is one task — BCF records carry no in-stream boundary marker."""

    def read_header(self, path: str) -> str:
        from .bgzf import BgzfReader

        fs = get_fs(path)
        with fs.open_input(path) as fh:
            r = BgzfReader(fh)
            magic = r.read(5)
            if magic != MAGIC:
                raise ValueError(f"{path}: not a BCF2 file (magic {magic!r})")
            l_text = struct.unpack("<I", r.read(4))[0]
            return r.read(l_text).split(b"\x00", 1)[0].decode()

    def read(
        self,
        spark: SparkSession,
        path: str,
        intervals: list[tuple[str, int, int]] | None = None,
        split_size: int = 32 * 1024 * 1024,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """``columns`` prunes the DECODE (as BamSource.read): the BCF
        spec's l_shared/l_indiv framing lets the per-sample genotype block
        skip in O(1) when 'genotypes' is not requested, and the site-string
        walk (ID/alleles/FILTER/INFO) skips when no site string is.  The
        returned frame carries exactly ``columns``.

        ``intervals`` (collected (contig, start, end) rows) returns the
        records overlapping any interval, exactly: the ``.csi`` prunes the
        chunks read, and each task drops the records no interval overlaps
        (span: ``interval.variant_end``), decoding the span fields for the
        test even when ``columns`` leaves them out."""
        from ..operators.interval import overlap_test, variant_end
        from .arrow_xfer import pruned_schema, to_dataframe
        from .fsio import collect_metadata, list_data_files
        from .vcf import VARIANTS_COLUMNS, VARIANTS_SCHEMA

        if columns is not None:
            from .sam import validate_columns

            validate_columns(columns, VARIANTS_COLUMNS, "variants")
        fs = get_fs(path)
        files = list_data_files(fs, str(path))
        if not files:
            raise FileNotFoundError(f"no BCF data files under {path}")
        fields = None if columns is None else frozenset(columns)
        schema = pruned_schema(VARIANTS_SCHEMA, fields)
        hit = None
        if intervals is not None:
            hit = overlap_test(intervals)
            if fields is not None:
                fields = fields | {"contig", "pos", "ref", "info"}

        def keep(row: dict) -> bool:
            pos = row["pos"]
            end = variant_end(pos, row["ref"], (row["info"] or {}).get("END"))
            return hit(row["contig"], pos, end)

        def meta_for(f: str):
            """(file, csi-task-chunk-groups | None) — None = whole file."""
            from .tabix import index_chunks

            ref_names = None if intervals is None else BcfContext(self.read_header(f)).contigs
            chunks = index_chunks(fs, f, fs.size(f), intervals, ref_names, (".csi",))
            if chunks is None:
                return (f, None)
            # group into ~split_size tasks by compressed extent, cutting
            # at chunk starts (record boundaries: only overlapping chunks
            # merge)
            groups: list[list[tuple[int, int]]] = []
            cur: list[tuple[int, int]] = []
            cur_start = None
            for u, v in chunks:
                if cur_start is None:
                    cur_start = u >> 16
                cur.append((u, v))
                if (v >> 16) - cur_start >= split_size:
                    groups.append(cur)
                    cur, cur_start = [], None
            if cur:
                groups.append(cur)
            return (f, groups)

        metas = collect_metadata(spark, files, meta_for)
        tasks: list[tuple[str, list[tuple[int, int]] | None]] = []
        for f, groups in metas:
            if groups is None:
                tasks.append((f, None))
            else:
                tasks.extend((f, g) for g in groups)

        def read_task(task):
            rows = decode_task(task)
            return rows if hit is None else filter(keep, rows)

        def decode_task(task):
            f, group = task
            if group is None:
                data = _decompress(f)
                if data[:5] != MAGIC:
                    raise ValueError(f"{f}: not a BCF2 file (magic {data[:5]!r})")
                l_text = struct.unpack_from("<I", data, 5)[0]
                hdr = data[9 : 9 + l_text].split(b"\x00", 1)[0].decode()
                ctx = BcfContext(hdr)
                r = _Reader(data, 9 + l_text)
                while r.o < len(data):
                    yield decode_record_loud(r, ctx, fields, f)
                return
            from .bgzf import BgzfReader

            ctx = BcfContext(self.read_header(f))
            with fs.open_input(f) as fh:
                br = BgzfReader(fh)
                for u, v in group:
                    br.seek_virtual(u)
                    while br.tell_virtual() < v:
                        head = br.read(8)
                        if len(head) < 8:
                            break
                        l_shared, l_indiv = struct.unpack("<II", head)
                        payload = br.read(l_shared + l_indiv)
                        r = _Reader(head + payload, 0)
                        yield decode_record_loud(r, ctx, fields, f)

        return to_dataframe(spark, tasks, read_task, schema)


def _decompress(path: str) -> bytes:
    import gzip

    fs = get_fs(path)
    with fs.open_input(path) as fh:
        return gzip.decompress(fh.read())


class BcfSink:
    """variants DataFrame → single BCF file, or a directory of complete BCF
    shards, through the shared commit (``merger``): per-partition encoded +
    BGZF-compressed record parts, header blocks, EOF block."""

    def write(
        self,
        df: DataFrame,
        header_text: str,
        path: str,
        *,
        write_index: bool = False,
    ) -> None:
        """``write_index=True`` additionally creates ``path + '.csi'`` AT
        WRITE TIME: each part returns its features' bins/linear windows
        with part-relative virtual offsets, folded with the same rebase
        arithmetic as the ``.bai``/``.tbi``/``.crai`` write paths — no
        re-read of the output."""
        commit(df, path, _bcf_format(header_text, write_index))

    def write_sharded(
        self,
        df: DataFrame,
        header_text: str,
        path: str,
        *,
        write_index: bool = False,
    ) -> None:
        """One complete BCF (header + records + EOF block) per partition in
        directory ``path``; ``write_index=True`` adds the shard's ``.csi``
        beside it.  Precondition for indexing, as for bcftools index: rows
        position-sorted within each partition
        (``df.sortWithinPartitions("contig", "pos")``)."""
        commit_sharded(df, path, _bcf_format(header_text, write_index))


def _bcf_format(header_text: str, write_index: bool) -> PartFormat:
    from .bgzf import EMPTY_GZIP_BLOCK, compress_blocks, write_bgzf_part
    from .csi import CsiAccumulator
    from .fsio import fs_write_bytes

    ctx = BcfContext(header_text)

    def record(row: dict) -> bytes:
        return encode_record(row, ctx)

    def encode(rows, fh) -> dict | None:
        if not write_index:
            write_bgzf_part(fh, rows, record)
            return None
        acc = CsiAccumulator(len(ctx.contigs))

        def add(row: dict, v: int, v_end: int) -> None:
            pos0 = int(row["pos"]) - 1
            info = _as_map(row.get("info"))
            try:
                end0 = int(info["END"]) if "END" in info else pos0 + len(row["ref"])
            except (TypeError, ValueError):
                end0 = pos0 + len(row["ref"])
            acc.add(ctx.contig_idx[row["contig"]], pos0, end0, v, v_end)

        csize = write_bgzf_part(fh, rows, record, add)
        acc.finish(csize)
        return {"csize": csize, **acc.to_meta()}

    def index(metas: list[dict], base: int, path: str) -> None:
        fs_write_bytes(path + ".csi", CsiAccumulator(len(ctx.contigs)).fold(metas, base).dump())

    htext = ctx.header_text.encode() + b"\x00"
    return PartFormat(
        header=compress_blocks(MAGIC + struct.pack("<I", len(htext)) + htext),
        encode=encode,
        terminator=EMPTY_GZIP_BLOCK,
        index=index if write_index else None,
        ext=".bcf",
    )
