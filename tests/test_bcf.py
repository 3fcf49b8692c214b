"""BCF 2.2 codec: hand-computed golden bytes (independent of the encoder's
own helpers), spec-fixture round-trips through the typed-format contract,
header read-back, and the real 10k-variant callset."""

from __future__ import annotations

import numpy as np
import pytest

from disq_original_spark.sources.bcf import (
    BcfContext,
    BcfSink,
    BcfSource,
    encode_record,
)
from disq_original_spark.sources.headers import read_vcf_header_text
from disq_original_spark.sources.vcf import VcfSource

VCF = "/root/reference/src/test/resources/test.vcf"
HISEQ = "/root/reference/src/test/resources/HiSeq.10000.vcf.bgz"

_MINI_HEADER = (
    "##fileformat=VCFv4.3\n"
    "##contig=<ID=c1,length=100>\n"
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n'
    '##FILTER=<ID=q10,Description="q">\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
)


def test_golden_record_bytes():
    """Every byte of a minimal record, computed BY HAND from the BCFv2.2
    spec (l_shared/l_indiv, little-endian fixed fields, typed descriptors
    len<<4|type) — catches symmetric encode/decode bugs a round-trip
    cannot."""
    ctx = BcfContext(_MINI_HEADER)
    assert ctx.strings == ["PASS", "DP", "q10"]
    rec = {
        "contig": "c1",
        "pos": 7,
        "id": "rs1",
        "ref": "AC",
        "alts": ["A"],
        "qual": 10.0,
        "filters": ["q10"],
        "info": {"DP": "14"},
        "genotypes": [],
    }
    expected = bytes.fromhex(
        "27000000"  # l_shared = 39
        "00000000"  # l_indiv = 0
        "00000000"  # rid = 0 (c1)
        "06000000"  # pos 0-based = 6
        "02000000"  # rlen = len('AC')
        "00002041"  # qual float32 10.0
        "01000200"  # n_allele=2 <<16 | n_info=1
        "00000000"  # n_fmt=0, n_sample=0
        "37727331"  # ID: char[3] 'rs1'
        "274143"    # allele 'AC'
        "1741"      # allele 'A'
        "1102"      # FILTER: int8[1] = 2 (q10)
        "1101"      # INFO key: int8[1] = 1 (DP)
        "110e"      # INFO val: int8[1] = 14
    )
    assert encode_record(rec, ctx) == expected


def _canon(rows):
    """Typed-format equivalence: drop per-sample keys whose value is
    entirely missing, compare Float-typed values and qual as float32."""
    out = []
    for r in sorted(rows, key=lambda r: (r["contig"], r["pos"])):
        d = r.asDict(recursive=True)
        d["qual"] = None if d["qual"] is None else float(np.float32(d["qual"]))
        info = {}
        for k, v in (d["info"] or {}).items():
            if k == "AF":  # declared Float: compare parsed float32 values
                info[k] = tuple(
                    None if t == "." else float(np.float32(float(t)))
                    for t in v.split(",")
                )
            else:
                info[k] = v
        d["info"] = info
        for g in d["genotypes"]:
            g["attrs"] = {
                k: v
                for k, v in g["attrs"].items()
                if set(v.split(",")) != {"."}
            }
        out.append(d)
    return out


def test_round_trip_spec_fixture(spark, tmp_path):
    hdr = read_vcf_header_text(VCF)
    v = VcfSource().read(spark, VCF)
    out = str(tmp_path / "t.bcf")
    BcfSink().write(v, hdr, out)
    back = BcfSource().read(spark, out)
    assert _canon(v.collect()) == _canon(back.collect())


def test_header_round_trip(spark, tmp_path):
    hdr = read_vcf_header_text(VCF)
    out = str(tmp_path / "t.bcf")
    BcfSink().write(VcfSource().read(spark, VCF), hdr, out)
    got = BcfSource().read_header(out)
    assert got.rstrip("\n") == hdr.rstrip("\n")


def test_magic_rejects_non_bcf(tmp_path):
    p = tmp_path / "x.bcf"
    import gzip

    p.write_bytes(gzip.compress(b"not a bcf"))
    # plain gzip (not BGZF) fails at the block layer; BGZF-but-not-BCF
    # fails on the magic — both loud
    with pytest.raises(ValueError, match="not a BGZF block"):
        BcfSource().read_header(str(p))
    from disq_original_spark.sources.bgzf import compress_block

    p2 = tmp_path / "y.bcf"
    p2.write_bytes(compress_block(b"GLF\x03xxxx"))
    with pytest.raises(ValueError, match="not a BCF2"):
        BcfSource().read_header(str(p2))


@pytest.mark.slow
def test_round_trip_real_callset(spark, tmp_path):
    """The 10k-variant NA12878 callset (GL floats, AD vectors, dbSNP ids)
    survives the typed round-trip under the float32 contract."""
    hdr = read_vcf_header_text(HISEQ)
    v = VcfSource().read(spark, HISEQ)
    out = str(tmp_path / "h.bcf")
    BcfSink().write(v, hdr, out)
    back = BcfSource().read(spark, out)
    a, b = v.collect(), back.collect()
    assert len(a) == len(b) == 9965
    fa, fb = _canon_hiseq(a), _canon_hiseq(b)
    assert fa == fb


def _canon_hiseq(rows):
    from disq_original_spark.operators.variants import parse_declarations

    out = []
    hdr = read_vcf_header_text(HISEQ)
    decls = parse_declarations(hdr, "INFO")
    float_info = {k for k, (_n, t) in decls.items() if t == "Float"}
    fdecls = parse_declarations(hdr, "FORMAT")
    float_fmt = {k for k, (_n, t) in fdecls.items() if t == "Float"}
    for r in sorted(rows, key=lambda r: (r["contig"], r["pos"])):
        d = r.asDict(recursive=True)
        d["qual"] = None if d["qual"] is None else float(np.float32(d["qual"]))
        info = {}
        for k, v in (d["info"] or {}).items():
            if k in float_info:
                info[k] = tuple(
                    None if t == "." else float(np.float32(float(t)))
                    for t in v.split(",")
                )
            else:
                info[k] = v
        d["info"] = info
        for g in d["genotypes"]:
            attrs = {}
            for k, v in (g["attrs"] or {}).items():
                if set(v.split(",")) == {"."}:
                    continue
                if k in float_fmt:
                    attrs[k] = tuple(
                        None if t == "." else float(np.float32(float(t)))
                        for t in v.split(",")
                    )
                else:
                    attrs[k] = v
            g["attrs"] = attrs
        out.append(d)
    return out


def test_variants_storage_routes_bcf(spark, tmp_path):
    """The VariantsStorage facade must route .bcf paths to the BCF codec —
    including the interval residual filter shared with the VCF path."""
    from disq_original_spark.storage import VariantsStorage

    hdr = read_vcf_header_text(VCF)
    st = VariantsStorage(spark)
    out = str(tmp_path / "t.bcf")
    st.write(VcfSource().read(spark, VCF), out, hdr)
    assert st.read_header(out).startswith("##fileformat")
    assert st.read(out).count() == 5
    iv = spark.createDataFrame(
        [("20", 14000, 18000)], "contig string, start long, end long"
    )
    got = sorted(r["pos"] for r in st.read(out, intervals=iv).collect())
    assert got == [14370, 17330]


def test_write_time_csi_and_splittable_read(spark, tmp_path):
    """write_index=True must produce a .csi whose chunk list yields
    split-invariant parallel reads AND interval chunk pruning that is a
    superset of the true overlap set."""
    hdr = read_vcf_header_text(HISEQ)
    v = VcfSource().read(spark, HISEQ)
    out = str(tmp_path / "h.bcf")
    BcfSink().write(v, hdr, out, write_index=True)
    import os

    assert os.path.exists(out + ".csi")
    truth = sorted(r["pos"] for r in v.collect())
    for split in (16 * 1024, 64 * 1024, 1 << 30):
        df = BcfSource().read(spark, out, split_size=split)
        assert sorted(r["pos"] for r in df.collect()) == truth, split
    # small splits genuinely parallelize
    assert BcfSource().read(spark, out, split_size=16 * 1024).rdd.getNumPartitions() > 5
    # interval read: chunk pruning + the tasks' overlap test = EXACT
    # matches, same contract as VcfSource.read(intervals=...)
    pruned = BcfSource().read(spark, out, intervals=[("chr1", 1, 100000)])
    got = {r["pos"] for r in pruned.collect()}
    true = {p for p in truth if p <= 100000}
    assert got == true and len(true) > 0


def test_storage_bcf_write_index_interval_parity(spark, tmp_path):
    """Through the facade: an interval read over the indexed BCF must equal
    the text VCF's interval read exactly (chunk pruning + shared residual
    filter)."""
    from disq_original_spark.storage import VariantsStorage

    hdr = read_vcf_header_text(HISEQ)
    st = VariantsStorage(spark)
    out = str(tmp_path / "h.bcf")
    st.write(VcfSource().read(spark, HISEQ), out, hdr, write_index=True)
    iv = spark.createDataFrame(
        [("chr1", 200000, 400000)], "contig string, start long, end long"
    )
    got = sorted(r["pos"] for r in st.read(out, intervals=iv).collect())
    want = sorted(
        r["pos"]
        for r in VcfSource().read(spark, HISEQ, intervals=iv).collect()
    )
    assert got == want and len(got) > 0


def test_sharded_bcf_round_trip_with_indexes(spark, tmp_path):
    """Directory-of-shards BCF: every shard a complete indexed file, the
    directory read unions them; interval reads prune per shard."""
    from disq_original_spark.storage import VariantsStorage

    hdr = read_vcf_header_text(HISEQ)
    st = VariantsStorage(spark)
    v = (
        VcfSource()
        .read(spark, HISEQ)
        .repartition(4)
        .sortWithinPartitions("contig", "pos")
    )
    out = str(tmp_path / "h.bcf.sharded")
    st.write(v, out, hdr, write_index=True)
    import os

    parts = sorted(p for p in os.listdir(out) if p.endswith(".bcf"))
    assert len(parts) == 4
    assert all(os.path.exists(f"{out}/{p}.csi") for p in parts)
    back = st.read(out)
    assert back.count() == 9965
    assert sorted(r["pos"] for r in back.collect()) == sorted(
        r["pos"] for r in VcfSource().read(spark, HISEQ).collect()
    )
    iv = spark.createDataFrame(
        [("chr1", 1, 50000)], "contig string, start long, end long"
    )
    got = sorted(r["pos"] for r in st.read(out, intervals=iv).collect())
    want = sorted(
        r["pos"] for r in VcfSource().read(spark, HISEQ, intervals=iv).collect()
    )
    assert got == want and len(got) > 0


def _codec_round_trip(rec, ctx):
    from disq_original_spark.sources.bcf import _Reader, decode_record

    return decode_record(_Reader(encode_record(rec, ctx), 0), ctx)


_SAMPLED_HEADER = (
    "##fileformat=VCFv4.3\n"
    "##contig=<ID=c1,length=100>\n"
    '##FILTER=<ID=q10,Description="q">\n'
    '##FORMAT=<ID=GT,Number=1,Type=String,Description="g">\n'
    '##FORMAT=<ID=FT,Number=1,Type=String,Description="per-sample filter">\n'
    '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="depth">\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS3\n"
)


def test_char_format_round_trip():
    """Spec-valid char-typed per-sample fields (bcftools' FT, Type=String)
    must encode as NUL-padded char vectors and decode back — mixed lengths,
    '.' missing, alongside GT and an int field (ADVICE r3: previously
    KeyError: 7 on decode, NotImplementedError on encode)."""
    ctx = BcfContext(_SAMPLED_HEADER)
    rec = {
        "contig": "c1", "pos": 5, "id": None, "ref": "A", "alts": ["T"],
        "qual": None, "filters": [], "info": {},
        "genotypes": [
            {"sample": "S1", "gt": "0/1", "attrs": {"GT": "0/1", "FT": "PASS", "DP": "7"}},
            {"sample": "S2", "gt": "1|1", "attrs": {"GT": "1|1", "FT": "q10;lowDP"}},
            {"sample": "S3", "gt": None, "attrs": {"FT": "."}},
        ],
    }
    back = _codec_round_trip(rec, ctx)
    attrs = {g["sample"]: g["attrs"] for g in back["genotypes"]}
    assert attrs["S1"] == {"GT": "0/1", "FT": "PASS", "DP": "7"}
    assert attrs["S2"] == {"GT": "1|1", "FT": "q10;lowDP"}
    assert "FT" not in attrs["S3"]  # '.' = missing, omitted like int/float


def test_gt_int16_many_alts():
    """>62 ALT alleles legally pushes (allele+1)<<1|phase past int8; the
    encoder must widen to int16 and the decoder must use int16 sentinels
    (ADVICE r3: int8-only encode raised struct.error, decode turned int16
    padding into spurious '/.' alleles)."""
    alts = [f"{'A' * (i + 2)}" for i in range(70)]
    ctx = BcfContext(_SAMPLED_HEADER)
    rec = {
        "contig": "c1", "pos": 9, "id": None, "ref": "A", "alts": alts,
        "qual": None, "filters": None, "info": {},
        "genotypes": [
            {"sample": "S1", "gt": "0/70", "attrs": {"GT": "0/70"}},
            {"sample": "S2", "gt": "70|70", "attrs": {"GT": "70|70"}},
            {"sample": "S3", "gt": "0", "attrs": {"GT": "0"}},  # haploid: EOV pad
        ],
    }
    back = _codec_round_trip(rec, ctx)
    gts = {g["sample"]: g["gt"] for g in back["genotypes"]}
    assert gts == {"S1": "0/70", "S2": "70|70", "S3": "0"}
    assert back["alts"] == alts


_IDX_HEADER = (
    "##fileformat=VCFv4.3\n"
    '##FILTER=<ID=PASS,Description="p",IDX=0>\n'
    "##contig=<ID=c2,length=50,IDX=1>\n"
    "##contig=<ID=c1,length=100,IDX=0>\n"
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="d",IDX=3>\n'
    '##FILTER=<ID=q10,Description="a,b ID=fake, IDX=9 inside quotes",IDX=1>\n'
    '##FORMAT=<ID=GT,Number=1,Type=String,Description="g",IDX=2>\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
)


def test_header_idx_dictionaries():
    """IDX= attributes (bcftools emits them after header subsetting) must
    define the string/contig dictionaries — not first-appearance order
    (ADVICE r3: ignoring IDX silently decodes wrong FILTER/INFO/FORMAT
    mappings).  Quoted Descriptions with commas and ID=/IDX= lookalikes
    must not confuse the parser."""
    ctx = BcfContext(_IDX_HEADER)
    assert ctx.strings == ["PASS", "q10", "GT", "DP"]
    assert ctx.contigs == ["c1", "c2"]
    rec = {
        "contig": "c2", "pos": 3, "id": None, "ref": "G", "alts": ["C"],
        "qual": None, "filters": ["q10"], "info": {"DP": "4"},
        "genotypes": [{"sample": "S1", "gt": "0|1", "attrs": {"GT": "0|1"}}],
    }
    back = _codec_round_trip(rec, ctx)
    assert back["contig"] == "c2"
    assert back["filters"] == ["q10"]
    assert back["info"] == {"DP": "4"}
    assert back["genotypes"][0]["gt"] == "0|1"


def test_header_mixed_idx_rejected():
    """Once any dictionary line carries IDX, the spec requires all of them
    to — a mix would corrupt every decode, so fail fast."""
    hdr = (
        "##fileformat=VCFv4.3\n"
        "##contig=<ID=c1,length=100>\n"
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d",IDX=1>\n'
        '##FILTER=<ID=q10,Description="q">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    with pytest.raises(ValueError, match="mixes IDX"):
        BcfContext(hdr)


def test_empty_dir_raises(spark, tmp_path):
    """An empty input directory must fail with a clear error, not
    IndexError on files[0] (ADVICE r3) — BCF and FASTQ both."""
    from disq_original_spark.sources.fastq import FastqSource

    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(FileNotFoundError, match="no BCF data files"):
        BcfSource().read(spark, str(d))
    with pytest.raises(FileNotFoundError, match="no FASTQ data files"):
        FastqSource().read(spark, str(d))


def test_header_idx_pass_nonzero():
    """IDX dictionaries may pin PASS AWAY from slot 0 (bcftools subsetting
    can).  Encode/decode must use PASS's declared slot, not a hard-coded
    0 — previously ['q10'] round-tripped as PASS and vice versa — and
    PASS must not also be duplicated into slot 0."""
    hdr = (
        "##fileformat=VCFv4.3\n"
        "##contig=<ID=c1,length=100,IDX=0>\n"
        '##FILTER=<ID=q10,Description="q",IDX=0>\n'
        '##FILTER=<ID=PASS,Description="p",IDX=1>\n'
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d",IDX=2>\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    ctx = BcfContext(hdr)
    assert ctx.strings == ["q10", "PASS", "DP"]
    base = {
        "contig": "c1", "pos": 5, "id": None, "ref": "A", "alts": [],
        "qual": None, "info": {}, "genotypes": [],
    }
    for filters, want in (([], []), (["q10"], ["q10"]), (None, None)):
        back = _codec_round_trip({**base, "filters": filters}, ctx)
        assert back["filters"] == want, filters
    # PASS pinned at a non-zero slot with slot 0 unclaimed: no phantom
    # PASS duplicate at 0
    hdr2 = (
        "##fileformat=VCFv4.3\n"
        "##contig=<ID=c1,length=100,IDX=0>\n"
        '##FILTER=<ID=PASS,Description="p",IDX=2>\n'
        '##FILTER=<ID=q10,Description="q",IDX=1>\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    ctx2 = BcfContext(hdr2)
    assert ctx2.strings == [None, "q10", "PASS"]
    back = _codec_round_trip({**base, "filters": []}, ctx2)
    assert back["filters"] == []


def test_header_escaped_quote_in_description():
    """VCF 4.3 allows backslash-escaped quotes inside Description; the
    attribute parser must not let the escape toggle quote state and leak
    Description text (previously 'IDX=9' inside a Description landed q10
    at dictionary slot 9)."""
    hdr = (
        "##fileformat=VCFv4.3\n"
        "##contig=<ID=c1,length=100>\n"
        '##FILTER=<ID=q10,Description="a \\"b,IDX=9,c\\" d">\n'
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    ctx = BcfContext(hdr)
    assert ctx.strings == ["PASS", "q10", "DP"]


def test_header_idx_no_pass_fail_loud():
    """A fully-IDX'd header that never declares PASS but pins another
    FILTER at slot 0 (ADVICE r4): encoding PASS (empty filters) must raise
    a clear ValueError, and decoding FILTER=[0] must yield the actual
    slot-0 filter — never silently default to PASS."""
    hdr = (
        "##fileformat=VCFv4.3\n"
        "##contig=<ID=c1,length=100,IDX=0>\n"
        '##FILTER=<ID=q10,Description="q",IDX=0>\n'
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d",IDX=1>\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    ctx = BcfContext(hdr)
    assert "PASS" not in ctx.string_idx
    base = {
        "contig": "c1", "pos": 5, "id": None, "ref": "A", "alts": [],
        "qual": None, "info": {}, "genotypes": [],
    }
    with pytest.raises(ValueError, match="PASS"):
        encode_record({**base, "filters": []}, ctx)
    # decode side: FILTER=[0] is q10, not PASS
    back = _codec_round_trip({**base, "filters": ["q10"]}, ctx)
    assert back["filters"] == ["q10"]


def test_bcf_column_pruned_read_matches_full(spark, tmp_path):
    """BcfSource.read(columns=...) prunes the decode at block granularity
    (genotype block skipped via l_indiv, site strings via l_shared);
    values must equal the full decode's subset, with and without interval
    pushdown, and unknown columns fail loud."""
    src = "/root/reference/src/test/resources/HiSeq.10000.vcf.bgz"
    hdr = read_vcf_header_text(src)
    out = str(tmp_path / "h.bcf")
    BcfSink().write(VcfSource().read(spark, src), hdr, out, write_index=True)

    full = BcfSource().read(spark, out, split_size=128 * 1024)
    for cols in (["contig", "pos"], ["contig", "pos", "qual"],
                 ["contig", "pos", "ref", "alts", "filters"],
                 ["contig", "pos", "genotypes"]):
        pruned = BcfSource().read(spark, out, split_size=128 * 1024, columns=cols)
        want = [c for c in full.columns if c in set(cols)]
        assert pruned.columns == want
        a = sorted(map(str, full.select(*want).collect()))
        b = sorted(map(str, pruned.collect()))
        assert a == b, cols

    iv = [("chr1", 881000, 935000)]
    p_iv = BcfSource().read(spark, out, intervals=iv, columns=["contig", "pos"])
    f_iv = BcfSource().read(spark, out, intervals=iv)
    assert p_iv.columns == ["contig", "pos"]
    assert sorted(map(str, p_iv.collect())) == sorted(
        map(str, f_iv.select("contig", "pos").collect())
    )
    assert f_iv.count() > 0

    with pytest.raises(ValueError, match="unknown variants columns"):
        BcfSource().read(spark, out, columns=["pos", "nope"])

    # the UNINDEXED whole-file path must honor pruning too (round-5
    # review: it previously fell back to the full decode silently)
    noidx = str(tmp_path / "noidx.bcf")
    BcfSink().write(VcfSource().read(spark, src), hdr, noidx, write_index=False)
    p2 = BcfSource().read(spark, noidx, columns=["contig", "pos"])
    assert p2.columns == ["contig", "pos"]
    assert sorted(map(str, p2.collect())) == sorted(
        map(str, full.select("contig", "pos").collect())
    )


def test_corrupt_bcf_records_never_escape_valueerror(spark, tmp_path):
    """Byte-level mutation fuzz on the record block (the contract
    tests/test_rans_nx16.py pins for the entropy codecs, applied to the
    BCF typed-value machinery): decoding a BCF whose record bytes are
    flipped or truncated must either still produce rows or raise ONE
    named ValueError — never a bare IndexError / struct.error / KeyError
    from deep inside typed()/dictionary lookups."""
    import struct as _struct

    from disq_original_spark.sources import bcf as bcfmod
    from disq_original_spark.sources.bcf import (
        BcfContext,
        BcfSink,
        decode_record_loud,
    )
    from disq_original_spark.sources.headers import read_vcf_header_text
    from disq_original_spark.sources.vcf import VcfSource

    src = VCF
    hdr_text = read_vcf_header_text(src)
    out = str(tmp_path / "t.bcf")
    BcfSink().write(VcfSource().read(spark, src), hdr_text, out)
    data = bcfmod._decompress(out)
    l_text = _struct.unpack_from("<I", data, 5)[0]
    body_start = 9 + l_text
    hdr = data[9:body_start].split(b"\x00", 1)[0].decode()

    def drain(blob: bytes) -> int:
        ctx = BcfContext(hdr)
        r = bcfmod._Reader(blob, body_start)
        n = 0
        while r.o < len(blob):
            decode_record_loud(r, ctx, None, "fuzz")
            n += 1
        return n

    n_ok = drain(data)
    assert n_ok > 0
    # single-byte flips across the record region (every 3rd byte, all 8 bits
    # on a stride — bounded but dense enough to hit every field kind)
    for off in range(body_start, len(data), 3):
        mutated = bytearray(data)
        mutated[off] ^= 0x80 | (off % 7 + 1)
        try:
            drain(bytes(mutated))
        except ValueError:
            pass  # the contract: ValueError is the ONLY acceptable failure
    # truncations at every 17th byte
    for cut in range(body_start + 1, len(data), 17):
        try:
            drain(data[:cut])
        except ValueError:
            pass


def _write_csi(path: str, idx) -> None:
    """Serialize a parsed ``CsiIndex`` back to a ``.csi``."""
    import struct

    from disq_original_spark.sources.bgzf import EMPTY_GZIP_BLOCK, compress_blocks
    from disq_original_spark.sources.csi import CSI_MAGIC

    out = bytearray(CSI_MAGIC)
    out += struct.pack("<3i", idx.min_shift, idx.depth, len(idx.aux)) + idx.aux
    out += struct.pack("<i", len(idx.bins))
    for bins in idx.bins:
        out += struct.pack("<i", len(bins))
        for b, (loff, chunks) in sorted(bins.items()):
            out += struct.pack("<IQi", b, loff, len(chunks))
            for u, v in chunks:
                out += struct.pack("<QQ", u, v)
    with open(path, "wb") as fh:
        fh.write(compress_blocks(bytes(out)) + EMPTY_GZIP_BLOCK)


def test_whole_file_read_skips_htslib_pseudo_bin(spark, tmp_path):
    """htslib adds a metadata pseudo-bin (``bin_limit + 1``) to each
    reference of a ``.csi``: its chunks are the reference's span and then
    ``(n_mapped, n_unmapped)`` — record COUNTS, not offsets.  A read with no
    intervals walks every chunk of the index and must skip that bin; read
    as an offset, 70000 mapped records point into byte 1 of the file."""
    from disq_original_spark.sources.vcf import VARIANTS_SCHEMA
    from disq_original_spark.sources.csi import bin_limit, parse_csi
    from disq_original_spark.storage import VariantsStorage

    from .twins import frame, variants

    rows, header = variants()
    path = str(tmp_path / "v.bcf")
    VariantsStorage(spark).write(
        frame(spark, rows, VARIANTS_SCHEMA).coalesce(1), path, header, write_index=True
    )
    idx = parse_csi(path + ".csi")
    chunks = [c for _loff, ch in idx.bins[0].values() for c in ch]
    span = (min(u for u, _v in chunks), max(v for _u, v in chunks))
    idx.bins[0][bin_limit(idx.min_shift, idx.depth) + 1] = (0, [span, (70_000, 0)])
    _write_csi(path + ".csi", idx)
    assert BcfSource().read(spark, path).count() == len(rows)
    assert BcfSource().read(spark, path, split_size=16 * 1024).count() == len(rows)
