"""CRAM container machinery vs the reference fixtures: container offsets
must agree with the .crai index; split planning snaps to containers."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from disq_original_spark.sources.cram import (
    CramSource,
    enumerate_containers,
    read_crai_offsets,
    read_file_definition,
    snap_splits_to_containers,
)

RES = Path("/root/reference/src/test/resources")
CRAM = str(RES / "valid.cram")
CRAM_NOIDX = str(RES / "valid_no_index.cram")


def test_file_definition():
    with open(CRAM, "rb") as fh:
        major, minor = read_file_definition(fh)
    assert (major, minor) == (2, 1)


def test_container_offsets_match_crai():
    with open(CRAM, "rb") as fh:
        containers = enumerate_containers(fh)
    data_offsets = [c.offset for c in containers if not c.is_eof and c.n_records > 0]
    assert data_offsets == read_crai_offsets(CRAM + ".crai")


def test_eof_container_detected():
    with open(CRAM, "rb") as fh:
        containers = enumerate_containers(fh)
    assert containers[-1].is_eof
    # container chain tiles the file exactly
    assert sum(1 for c in containers if c.is_eof) == 1


def test_no_index_scan_agrees_with_indexed():
    with open(CRAM, "rb") as fh:
        a = [c.offset for c in enumerate_containers(fh) if c.n_records > 0]
    with open(CRAM_NOIDX, "rb") as fh:
        b = [c.offset for c in enumerate_containers(fh) if c.n_records > 0]
    assert len(a) == len(b)  # same content, same container shape


def test_split_planning_drops_empty_and_covers_all():
    src = CramSource()
    chunks = src.plan_splits(CRAM, split_size=2048)
    with open(CRAM, "rb") as fh:
        data_offsets = [c.offset for c in enumerate_containers(fh) if c.n_records > 0]
    covered = set()
    for s, e in chunks:
        covered.update(o for o in data_offsets if s <= o < e)
    assert covered == set(data_offsets)
    # chunk starts are container starts
    assert all(s in data_offsets for s, _ in chunks)


def test_containers_dataframe(spark):
    df = CramSource().containers(spark, CRAM)
    rows = df.collect()
    assert sum(r["n_records"] for r in rows) == 8
    assert any(r["is_eof"] for r in rows)


def test_read_without_reference_fails_on_mapped_slice(spark):
    with pytest.raises(Exception, match="reference"):
        CramSource().read(spark, CRAM).collect()


FASTA = str(RES / "valid.fasta")

# htsjdk's picard-test read set inside valid.cram: 7 mapped + 1 unmapped
N_CRAM_RECORDS = 8


def test_decode_cram_records():
    from disq_original_spark.sources.cram_codec import decode_cram

    rows = decode_cram(CRAM, FASTA)
    assert len(rows) == N_CRAM_RECORDS
    unmapped = [r for r in rows if r["flag"] & 0x4]
    assert len(unmapped) == 1 and unmapped[0]["rname"] is None
    mapped = [r for r in rows if not r["flag"] & 0x4]
    # slice covers chr7:1-402
    assert all(r["rname"] == "chr7" and 1 <= r["pos"] <= 402 for r in mapped)
    # every seq is fully reconstructed (length == read length, no gaps)
    assert all(len(r["seq"]) == 101 for r in rows)
    assert all(len(r["qual"]) == 101 for r in rows)
    # feature-built cigar present
    assert "10M1D10M5I76M" in {r["cigar"] for r in mapped}
    # pairing self-consistency: tlen mirrors between mates
    by_name = {}
    for r in mapped:
        by_name.setdefault(r["qname"], []).append(r)
    pairs = [v for v in by_name.values() if len(v) == 2]
    assert pairs and all(a["tlen"] == -b["tlen"] for a, b in pairs)


def test_decode_cram_wrong_reference_detected():
    from disq_original_spark.sources.cram_codec import decode_cram

    with pytest.raises(ValueError, match="reference"):
        decode_cram(CRAM, str(RES / "test.fa"))


def test_cram_dataframe_read(spark):
    df = CramSource().read(spark, CRAM, reference_path=FASTA)
    assert df.count() == N_CRAM_RECORDS
    from disq_original_spark.sources.cram_codec import decode_cram

    expected = decode_cram(CRAM, FASTA)
    got = df.collect()
    assert [(r.qname, r.flag, r.pos, r.cigar, r.seq) for r in got] == [
        (r["qname"], r["flag"], r["pos"], r["cigar"], r["seq"]) for r in expected
    ]


def test_cram_dataframe_read_no_index(spark):
    df = CramSource().read(spark, CRAM_NOIDX, reference_path=FASTA)
    assert df.count() == N_CRAM_RECORDS


def test_cram_split_invariance(spark):
    small = CramSource().read(spark, CRAM, reference_path=FASTA, split_size=512)
    assert small.count() == N_CRAM_RECORDS


def test_cram_sink_roundtrip(spark, tmp_path):
    from disq_original_spark.sources.cram import CramSink
    from disq_original_spark.sources.cram_codec import decode_cram, read_cram_meta

    hdr = read_cram_meta(Path(CRAM).read_bytes())[0].header_text
    df = CramSource().read(spark, CRAM, reference_path=FASTA)
    out = str(tmp_path / "out.cram")
    CramSink().write(df.repartition(3), hdr, out, reference_path=FASTA)
    back = decode_cram(out, FASTA)
    assert len(back) == N_CRAM_RECORDS
    # same multiset of records (partitioning may reorder)
    key = lambda r: (r["qname"], r["flag"], r["pos"], r["cigar"], r["seq"], r["qual"])
    orig = decode_cram(CRAM, FASTA)
    assert sorted(map(key, back)) == sorted(map(key, orig))
    # written file is split-plannable (container chain walks cleanly)
    with open(out, "rb") as fh:
        cs = enumerate_containers(fh)
    assert cs[-1].is_eof and sum(c.n_records for c in cs) == N_CRAM_RECORDS


def test_cram_sink_spark_read_back(spark, tmp_path):
    from disq_original_spark.sources.cram import CramSink
    from disq_original_spark.sources.cram_codec import read_cram_meta

    hdr = read_cram_meta(Path(CRAM).read_bytes())[0].header_text
    df = CramSource().read(spark, CRAM, reference_path=FASTA)
    out = str(tmp_path / "rt2.cram")
    CramSink().write(df, hdr, out, reference_path=FASTA)
    back = CramSource().read(spark, out, reference_path=FASTA)
    assert back.count() == N_CRAM_RECORDS


def test_python_datasource_format_cram(spark):
    from disq_original_spark.sources.datasource import register_datasources

    register_datasources(spark)
    df = (
        spark.read.format("cram")
        .option("reference", FASTA)
        .option("splitSize", 2048)
        .load(CRAM)
    )
    assert df.count() == N_CRAM_RECORDS


def test_restore_mates_sets_template_size():
    """Intra-slice NF-linked pairs get htsjdk-style template sizes:
    leftmost-start to rightmost-end span, positive on the leftmost record,
    zero when either end is unmapped."""
    from disq_original_spark.sources.cram_codec import SliceDecoder

    def raw(flag, ref_id, ap, rl, nf=None):
        return {
            "flag": flag,
            "ref_id": ref_id,
            "ap": ap,
            "rl": rl,
            "nf": nf,
            "features": [],
            "mate": None,
        }

    # pair: r1 at 100 (len 50, end 149), r2 at 200 (len 50, end 249)
    records = [raw(0x41, 0, 100, 50, nf=0), raw(0x81, 0, 200, 50)]
    SliceDecoder._restore_mates(None, records)
    assert records[0]["mate"][3] == 150   # 249 - 100 + 1
    assert records[1]["mate"][3] == -150

    # unmapped mate -> tlen stays 0
    records = [raw(0x41, 0, 100, 50, nf=0), raw(0x81 | 0x4, 0, 100, 50)]
    SliceDecoder._restore_mates(None, records)
    assert records[0]["mate"][3] == 0
    assert records[1]["mate"][3] == 0


def test_gamma_codec_htsjdk_parity():
    """Fixed decode vectors for the Elias-gamma path (htsjdk
    GammaIntegerCodec: decoded value minus offset — NOT value-1-offset).
    The sibling writer never emits GAMMA, so round-trips can't catch a
    systematic off-by-one here; these pins do."""
    from disq_original_spark.sources.cram_codec import BitReader, GammaCodec
    from disq_original_spark.sources.cram_writer import itf8

    def bits_to_bytes(bitstr: str) -> bytes:
        padded = bitstr + "0" * (-len(bitstr) % 8)
        return bytes(int(padded[i : i + 8], 2) for i in range(0, len(padded), 8))

    # gamma("1") = 1, gamma("010") = 2, gamma("00101") = 5, gamma("0001000") = 8
    for bitstr, want in [("1", 1), ("010", 2), ("00101", 5), ("0001000", 8)]:
        codec = GammaCodec(itf8(0))
        got = codec.read_int(BitReader(bits_to_bytes(bitstr)), None)
        assert got == want, (bitstr, got, want)
    # non-zero offset subtracts once
    codec = GammaCodec(itf8(3))
    assert codec.read_int(BitReader(bits_to_bytes("00101")), None) == 2


def test_container_counter_itf8_in_cram2():
    """CRAM 2.x record counter is ITF8 (LTF8 only from 3.0) — encodings
    agree below 2^28, so pin a >=2^28 counter: 5-byte ITF8 vs 5-byte LTF8
    diverge, and a misread desyncs the whole container walk."""
    import struct

    from disq_original_spark.sources.cram_codec import Buf, read_container_header
    from disq_original_spark.sources.cram_writer import itf8, ltf8

    counter = 1 << 28  # first value where the encodings differ

    def container_bytes(counter_bytes: bytes) -> bytes:
        return (
            struct.pack("<i", 7)  # length
            + itf8(0)  # ref_seq_id
            + itf8(0)  # start
            + itf8(0)  # span
            + itf8(9)  # n_records
            + counter_bytes
            + ltf8(0)  # bases
            + itf8(1)  # n_blocks
            + itf8(0)  # n_landmarks
        )

    h2 = read_container_header(Buf(container_bytes(itf8(counter))), 0, major=2)
    assert h2.counter == counter and h2.n_blocks == 1
    import zlib

    v3 = container_bytes(ltf8(counter))
    h3 = read_container_header(
        Buf(v3 + struct.pack("<I", zlib.crc32(v3))), 0, major=3
    )
    assert h3.counter == counter and h3.n_blocks == 1
    # a corrupted v3 header CRC must fail loud (r6: CRCs verified, not
    # skipped)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CRC32 mismatch"):
        read_container_header(Buf(v3 + b"\x00" * 4), 0, major=3)


def test_golomb_codecs_decode_vectors():
    """Golomb (id 2) and Golomb-Rice (id 8) close the CRAM decode matrix.
    Vectors are hand-derived from the htsjdk Golomb/GolombRiceIntegerCodec
    algorithms: unary quotient (1-bits then 0), truncated-binary remainder."""
    from disq_original_spark.sources.cram_codec import (
        BitReader,
        GolombCodec,
        GolombRiceCodec,
        build_codec,
    )
    from disq_original_spark.sources.cram_writer import itf8

    def bits_to_bytes(bitstr: str) -> bytes:
        padded = bitstr + "0" * (-len(bitstr) % 8)
        return bytes(int(padded[i : i + 8], 2) for i in range(0, len(padded), 8))

    def enc_golomb(v: int, m: int) -> str:
        q, r = divmod(v, m)
        b = m.bit_length()
        cutoff = (1 << b) - m
        out = "1" * q + "0"
        if r < cutoff:
            out += format(r, "b").zfill(b - 1) if b > 1 else ""
        else:
            out += format(r + cutoff, "b").zfill(b)
        return out

    # M = 10 exercises both remainder widths (r<6 -> 3 bits, r>=6 -> 4 bits)
    for v in [0, 3, 5, 6, 9, 10, 17, 25, 100]:
        codec = GolombCodec(itf8(0) + itf8(10))
        got = codec.read_int(BitReader(bits_to_bytes(enc_golomb(v, 10))), None)
        assert got == v, (v, got)
    # M = 8 (power of two): plain 3-bit remainder, never the extra bit
    for v in [0, 7, 8, 20]:
        codec = GolombCodec(itf8(0) + itf8(8))
        got = codec.read_int(BitReader(bits_to_bytes(enc_golomb(v, 8))), None)
        assert got == v, (v, got)
    # offset subtracts
    codec = GolombCodec(itf8(4) + itf8(10))
    assert codec.read_int(BitReader(bits_to_bytes(enc_golomb(9, 10))), None) == 5

    def enc_rice(v: int, log2m: int) -> str:
        q, r = v >> log2m, v & ((1 << log2m) - 1)
        return "1" * q + "0" + (format(r, "b").zfill(log2m) if log2m else "")

    for v in [0, 1, 7, 8, 31, 64]:
        codec = GolombRiceCodec(itf8(0) + itf8(3))
        got = codec.read_int(BitReader(bits_to_bytes(enc_rice(v, 3))), None)
        assert got == v, (v, got)

    # dispatch: ids 2 and 8 resolve (previously NotImplementedError)
    assert isinstance(build_codec(2, itf8(0) + itf8(10)), GolombCodec)
    assert isinstance(build_codec(8, itf8(0) + itf8(3)), GolombRiceCodec)


def test_doctored_slice_decodes_golomb_series():
    """Doctored-container check: a BetaCodec data series swapped for a
    Golomb one decodes the same integers — proving the codec integrates
    with the shared core-stream BitReader, not just unit vectors."""
    from disq_original_spark.sources.cram_codec import BitReader, build_codec
    from disq_original_spark.sources.cram_writer import itf8

    values = [5, 0, 12, 3, 9, 27, 1]

    def enc_golomb(v: int, m: int) -> str:
        q, r = divmod(v, m)
        b = m.bit_length()
        cutoff = (1 << b) - m
        s = "1" * q + "0"
        if r < cutoff:
            s += format(r, "b").zfill(b - 1) if b > 1 else ""
        else:
            s += format(r + cutoff, "b").zfill(b)
        return s

    bitstr = "".join(enc_golomb(v, 6) for v in values)
    padded = bitstr + "0" * (-len(bitstr) % 8)
    core = BitReader(
        bytes(int(padded[i : i + 8], 2) for i in range(0, len(padded), 8))
    )
    codec = build_codec(2, itf8(0) + itf8(6))
    assert [codec.read_int(core, {}) for _ in values] == values


# ---------------------------------------------------- write-time .crai creation


def test_write_time_crai_matches_posthoc_build(spark, tmp_path):
    """Executors compute each container's CRAI entries from the rows they
    encode; the driver offsets them by the merge layout.  Result must be
    byte-identical to a sequential post-hoc build (which decodes the
    written records back)."""
    from disq_original_spark.sources.cram import CramSink, create_crai
    from disq_original_spark.sources.cram_codec import read_cram_meta

    hdr = read_cram_meta(Path(CRAM).read_bytes())[0].header_text
    df = CramSource().read(spark, CRAM, reference_path=FASTA)
    out = str(tmp_path / "indexed.cram")
    CramSink().write(df.repartition(3), hdr, out, reference_path=FASTA, write_index=True)
    written = Path(out + ".crai").read_bytes()
    create_crai(out, reference_path=FASTA)  # overwrites with sequential build
    assert Path(out + ".crai").read_bytes() == written


def test_write_time_crai_drives_split_planning(spark, tmp_path):
    """The written .crai must feed the indexed split-planning fast path:
    its container offsets equal the real container chain's, so plan_splits
    needs no driver-side chain walk."""
    import gzip as _gzip

    from disq_original_spark.sources.cram import CramSink, read_crai_offsets
    from disq_original_spark.sources.cram_codec import read_cram_meta

    hdr = read_cram_meta(Path(CRAM).read_bytes())[0].header_text
    df = CramSource().read(spark, CRAM, reference_path=FASTA)
    out = str(tmp_path / "planned.cram")
    CramSink().write(df.repartition(3), hdr, out, reference_path=FASTA, write_index=True)
    with open(out, "rb") as fh:
        chain = [c.offset for c in enumerate_containers(fh) if not c.is_eof and c.n_records > 0]
    assert read_crai_offsets(out + ".crai") == chain
    # entries are well-formed 6-column lines with sane slice geometry
    for line in _gzip.open(out + ".crai", "rt"):
        sid, start, span, c_off, s_off, s_size = map(int, line.split("\t"))
        assert sid >= -1 and c_off in chain and s_off > 0 and s_size > 0
    back = CramSource().read(spark, out, reference_path=FASTA)
    assert back.count() == N_CRAM_RECORDS


def test_reads_storage_write_index_cram(spark, tmp_path):
    from disq_original_spark.storage import ReadsStorage

    st = ReadsStorage(spark, reference_path=FASTA)
    df = st.read(CRAM)
    header = st.read_header(CRAM)
    out = str(tmp_path / "st.cram")
    st.write(df, out, header, write_index=True)
    assert Path(out + ".crai").exists()


def test_cram_sharded_roundtrip(spark, tmp_path):
    """Sharded CRAM sink (reference `sam/AnySamSinkMultiple.java:31-74`) +
    directory read-back: each shard is a complete CRAM with its own
    header/EOF and optional .crai; the directory reads as one input."""
    import os

    from disq_original_spark.sources.cram import CramSink
    from disq_original_spark.sources.cram_codec import read_cram_meta

    hdr = read_cram_meta(Path(CRAM).read_bytes())[0].header_text
    df = CramSource().read(spark, CRAM, reference_path=FASTA)
    out = str(tmp_path / "out.cram.sharded")
    CramSink().write_sharded(
        df.repartition(2), hdr, out, reference_path=FASTA, write_index=True
    )
    names = sorted(os.listdir(out))
    assert sum(n.endswith(".cram") for n in names) == 2
    assert sum(n.endswith(".crai") for n in names) == 2
    back = CramSource().read(spark, out, reference_path=FASTA)
    key = lambda r: (r["qname"], r["flag"], r["pos"], r["cigar"], r["seq"], r["qual"])
    assert sorted(map(key, (r.asDict() for r in back.collect()))) == sorted(
        map(key, (r.asDict() for r in df.collect()))
    )


def test_cram_sharded_via_storage_facade(spark, tmp_path):
    from disq_original_spark.storage import ReadsStorage

    storage = ReadsStorage(spark, reference_path=FASTA)
    df = storage.read(CRAM)
    header = storage.read_header(CRAM)
    out = str(tmp_path / "out.cram.sharded")
    storage.write(df.repartition(2), out, header, write_index=True)
    assert storage.read(out).count() == df.count()


def test_cram_datasource_reads_sharded_dir(spark, tmp_path):
    from disq_original_spark.sources.cram import CramSink
    from disq_original_spark.sources.cram_codec import read_cram_meta

    from disq_original_spark.sources.datasource import register_datasources

    register_datasources(spark)
    hdr = read_cram_meta(Path(CRAM).read_bytes())[0].header_text
    df = CramSource().read(spark, CRAM, reference_path=FASTA)
    out = str(tmp_path / "out.cram.sharded")
    CramSink().write_sharded(df.repartition(2), hdr, out, reference_path=FASTA)
    back = (
        spark.read.format("cram").option("reference", FASTA).load(out)
    )
    assert back.count() == df.count()


def test_interval_read_exact_and_pruned(spark):
    """CramSource.read(intervals=...) must return exactly the brute-force
    overlap set (crai container pruning + shared residual), same contract
    as BamSource.read; without a .crai the residual alone must give the
    same rows."""
    from pyspark.sql import functions as F

    from .sam_reference import with_alignment_span

    full = CramSource().read(spark, CRAM, reference_path=FASTA)
    spanned = with_alignment_span(full)
    lo, hi = 1, 300
    expected = sorted(
        r["qname"]
        for r in spanned.filter(
            (F.col("rname") == "chr7")
            & (F.col("pos") <= hi)
            & (F.col("end_pos") >= lo)
        ).collect()
    )
    iv = spark.createDataFrame(
        [("chr7", lo, hi)], "contig string, start long, end long"
    )
    for path in (CRAM, CRAM_NOIDX):
        got = CramSource().read(spark, path, reference_path=FASTA, intervals=iv)
        assert sorted(r["qname"] for r in got.collect()) == expected, path
    assert len(expected) > 0


def test_interval_read_prunes_planning(spark):
    """With a .crai, an interval matching NO container must plan zero
    decode tasks (observable as an empty result without touching record
    data; the no-index file can only get there via the residual)."""
    iv = spark.createDataFrame(
        [("chr7", 10_000_000, 20_000_000)], "contig string, start long, end long"
    )
    assert CramSource().read(spark, CRAM, reference_path=FASTA, intervals=iv).count() == 0


def test_interval_read_include_unplaced(spark):
    """include_unplaced keeps unmapped-unplaced reads alongside interval
    matches — the reference's TraversalParameters contract."""
    from pyspark.sql import functions as F

    full = CramSource().read(spark, CRAM, reference_path=FASTA)
    n_unplaced = full.filter(
        (F.col("flag").bitwiseAND(4) != 0)
        & (F.col("rname").isNull() | (F.col("pos") == 0))
    ).count()
    iv = spark.createDataFrame(
        [("chr7", 1, 300)], "contig string, start long, end long"
    )
    base = CramSource().read(spark, CRAM, reference_path=FASTA, intervals=iv).count()
    both = CramSource().read(
        spark, CRAM, reference_path=FASTA, intervals=iv, include_unplaced=True
    ).count()
    assert both == base + n_unplaced


def test_cram_version_gate(spark, tmp_path):
    """The file-definition gate after the r6 narrowing (VERDICT r5
    directive #6): 3.1 is ACCEPTED (rans_nx16.py implements its order-0
    codec; full 3.1 write→read runs in tests/test_rans_nx16.py), while
    versions whose container layout or mandatory codecs are genuinely
    unknown (3.2+, 4.x, 1.0) keep failing at the file definition with a
    clear version error, never a confusing block-decode error."""
    import io

    from disq_original_spark.sources.cram import read_file_definition

    def fd(major, minor):
        return io.BytesIO(b"CRAM" + bytes([major, minor]) + b"\x00" * 20)

    assert read_file_definition(fd(3, 1)) == (3, 1)
    assert read_file_definition(fd(3, 0)) == (3, 0)
    assert read_file_definition(fd(2, 1)) == (2, 1)
    with pytest.raises(ValueError, match=r"unsupported CRAM version 3\.2"):
        read_file_definition(fd(3, 2))
    with pytest.raises(ValueError, match=r"unsupported CRAM version 4\.0"):
        read_file_definition(fd(4, 0))
    # 1.0 (pre-2.x container layout) must also be a version error
    doctored = tmp_path / "v10.cram"
    import shutil

    shutil.copy("/root/reference/src/test/resources/valid.cram", doctored)
    with open(doctored, "r+b") as fh:
        fh.seek(4)
        fh.write(bytes([1, 0]))
    with pytest.raises(ValueError, match=r"unsupported CRAM version 1\.0"):
        CramSource().read(
            spark,
            str(doctored),
            reference_path="/root/reference/src/test/resources/valid.fasta",
        ).count()


def test_cram_column_pruned_read_matches_full(spark, tmp_path):
    """CramSource.read(columns=...) must value-match the full decode's
    subset — on the htsjdk fixture AND on this repo's own 2.1/3.0 sink
    output (mate restore, features, rANS externals all exercised)."""
    res = "/root/reference/src/test/resources"
    full = CramSource().read(
        spark, f"{res}/valid.cram", reference_path=f"{res}/valid.fasta"
    )
    for cols in (["flag", "rname", "pos"], ["qname", "flag", "cigar", "tlen"],
                 ["seq", "qual", "rname"]):
        pruned = CramSource().read(
            spark, f"{res}/valid.cram", reference_path=f"{res}/valid.fasta",
            columns=cols,
        )
        want = [c for c in full.columns if c in set(cols)]
        assert pruned.columns == want
        assert sorted(map(str, full.select(*want).collect())) == sorted(
            map(str, pruned.collect())
        ), cols

    with pytest.raises(ValueError, match="unknown reads columns"):
        CramSource().read(
            spark, f"{res}/valid.cram", reference_path=f"{res}/valid.fasta",
            columns=["flag", "nope"],
        )
    with pytest.raises(ValueError, match="non-empty"):
        CramSource().read(
            spark, f"{res}/valid.cram", reference_path=f"{res}/valid.fasta",
            columns=[],
        )

    # a pruned counter scan needs NO reference at all: seq reconstruction
    # and the per-slice reference-MD5 fetch are both gated on 'seq'
    noref = CramSource().read(
        spark, f"{res}/valid.cram", columns=["flag", "rname", "pos"]
    )
    assert sorted(map(str, noref.collect())) == sorted(
        map(str, full.select("flag", "rname", "pos").collect())
    )

    # interval pushdown that prunes EVERY container must still return the
    # user's schema, not the internal decode fields
    from pyspark.sql import Row

    iv_none = spark.createDataFrame(
        [("no_such_contig", 1, 2)], "contig string, start long, end long"
    )
    empty = CramSource().read(
        spark, f"{res}/valid.cram", reference_path=f"{res}/valid.fasta",
        intervals=iv_none, columns=["mapq"],
    )
    assert empty.columns == ["mapq"] and empty.count() == 0

    # round-trip through this repo's own encoder at both versions
    from pathlib import Path as _P

    from disq_original_spark.sources.cram import CramSink
    from disq_original_spark.sources.cram_codec import read_cram_meta

    header = read_cram_meta(_P(f"{res}/valid.cram").read_bytes())[0].header_text
    for version in ((2, 1), (3, 0)):
        out = str(tmp_path / f"v{version[0]}{version[1]}.cram")
        CramSink().write(
            full, header, out, reference_path=f"{res}/valid.fasta", version=version
        )
        f2 = CramSource().read(spark, out, reference_path=f"{res}/valid.fasta")
        p2 = CramSource().read(
            spark, out, reference_path=f"{res}/valid.fasta",
            columns=["flag", "rname", "pos", "mapq"],
        )
        assert sorted(map(str, f2.select("flag", "rname", "pos", "mapq").collect())) == sorted(
            map(str, p2.collect())
        ), version


def test_cram_pruning_skips_block_inflation():
    """The lazy external-block path must actually avoid DECOMPRESSING
    blocks whose series are fully skipped (the QS quality block under a
    counter-scan column set) — counted via a decompress wrapper, no
    Spark involved."""
    from unittest import mock

    from disq_original_spark.sources import cram_codec

    res = "/root/reference/src/test/resources"
    data = open(f"{res}/valid.cram", "rb").read()
    meta, pos0 = cram_codec.read_cram_meta(data)
    fasta = cram_codec.IndexedFasta(f"{res}/valid.fasta")

    real = cram_codec.decompress
    calls: list[int] = []

    def counting(m, p, r):
        calls.append(m)
        return real(m, p, r)

    with mock.patch.object(cram_codec, "decompress", side_effect=counting):
        pos = pos0
        rows_full = []
        while pos < len(data):
            chunk, pos = cram_codec.decode_container(data, pos, meta, fasta.get)
            rows_full.extend(chunk)
        n_full = len(calls)

        calls.clear()
        pos = pos0
        rows_pruned = []
        fields = frozenset({"flag", "rname", "pos"})
        while pos < len(data):
            chunk, pos = cram_codec.decode_container(
                data, pos, meta, fasta.get, fields=fields
            )
            rows_pruned.extend(chunk)
        n_pruned = len(calls)

    assert rows_full and len(rows_full) == len(rows_pruned)
    # pruned rows carry exactly the requested keys
    assert all(set(r) == fields for r in rows_pruned)
    # and match the full decode's values
    assert [
        {k: r[k] for k in fields} for r in rows_full
    ] == rows_pruned
    # at least one external block (QS/RN/tag series) never inflated
    assert n_pruned < n_full, (n_pruned, n_full)


def test_cram31_pruning_skips_tok3_name_decode(spark, tmp_path):
    """On a 3.1 file the read-name block is tok3-coded (method 8); a
    decode pruned to a column set without qname must never invoke the
    name tokenizer at all — same lazy-inflation contract the QS block
    test pins, now for the new codec."""
    from pathlib import Path
    from unittest import mock

    from disq_original_spark.sources import tok3
    from disq_original_spark.sources.cram import CramSink, CramSource
    from disq_original_spark.sources import cram_codec

    res = Path("/root/reference/src/test/resources")
    cram, fasta_p = str(res / "valid.cram"), str(res / "valid.fasta")
    hdr = cram_codec.read_cram_meta(Path(cram).read_bytes())[0].header_text
    df = CramSource().read(spark, cram, reference_path=fasta_p)
    out = str(tmp_path / "v31.cram")
    CramSink().write(df, hdr, out, reference_path=fasta_p, version=(3, 1))

    data = Path(out).read_bytes()
    meta, pos0 = cram_codec.read_cram_meta(data)
    fasta = cram_codec.IndexedFasta(fasta_p)

    def walk(fields):
        rows = []
        pos = pos0
        while pos < len(data):
            chunk, pos = cram_codec.decode_container(
                data, pos, meta, fasta.get, fields=fields
            )
            rows.extend(chunk)
        return rows

    with mock.patch.object(
        tok3, "decode", side_effect=AssertionError("tok3 decoded under pruning")
    ):
        rows = walk(frozenset({"flag", "rname", "pos"}))
    assert len(rows) == 8 and all("qname" not in r for r in rows)
    # unpatched, the same walk WITH qname decodes the tok3 block
    named = walk(frozenset({"qname", "flag"}))
    assert sorted(r["qname"] for r in named) == sorted(
        r["qname"] for r in df.collect()
    )


def test_cram_pruning_skips_tag_blocks():
    """Tag payloads (here OQ: 101 chars/read) are often the bulk of a
    container; a counter scan must not inflate their blocks.  Guarded by
    the exclusivity + core-free analysis: spec-legal layouts that share
    blocks or read tags from core keep the always-read path."""
    from unittest import mock

    from disq_original_spark.sources import cram_codec

    res = "/root/reference/src/test/resources"
    data = open(f"{res}/valid.cram", "rb").read()
    meta, pos0 = cram_codec.read_cram_meta(data)
    fasta = cram_codec.IndexedFasta(f"{res}/valid.fasta")

    real = cram_codec.decompress
    calls: list[int] = []

    def counting(m, p, r):
        calls.append(len(p))
        return real(m, p, r)

    def walk(fields):
        rows, pos = [], pos0
        while pos < len(data):
            chunk, pos = cram_codec.decode_container(
                data, pos, meta, fasta.get, fields=fields
            )
            rows.extend(chunk)
        return rows

    with mock.patch.object(cram_codec, "decompress", side_effect=counting):
        full = walk(None)
        n_full = len(calls)
        calls.clear()
        counter = walk(frozenset({"flag", "rname", "pos"}))
        n_counter = len(calls)
        calls.clear()
        with_tags = walk(frozenset({"flag", "attributes"}))
    assert len(full) == len(counter) == len(with_tags) == 8
    # the counter scan inflates strictly fewer blocks than the tag scan
    assert n_counter < n_full
    # and tag values, when wanted, are exactly the full decode's
    assert [r["attributes"] for r in with_tags] == [
        r["attributes"] for r in full
    ]
    assert any(r["attributes"] for r in full)  # fixture really has tags


def test_series_skip_requires_core_free_codec():
    """The skip analyses must treat a core-consuming codec as
    unskippable even when its external block is exclusive (r7 third
    review: an RN BYTE_ARRAY_LEN with a real Huffman length reads core
    bits per record — skipping it would desync every other core-coded
    series).  Pin the two analyses on exactly that codec shape."""
    from disq_original_spark.sources.cram_codec import (
        ByteArrayLenCodec,
        ByteArrayStopCodec,
        _codec_cids,
        _core_free,
    )

    # BYTE_ARRAY_LEN(len: 2-symbol Huffman on core, val: EXTERNAL cid 7)
    params = bytes([3, 6, 2, 0, 1, 2, 1, 1, 1, 1, 7])
    dangerous = ByteArrayLenCodec(params)
    assert _codec_cids(dangerous) == {7}  # exclusivity test alone passes
    assert not _core_free(dangerous)  # ...but the core guard must veto
    # the safe shape every writer here emits: BYTE_ARRAY_STOP, core-free
    safe = ByteArrayStopCodec(bytes([0, 11]))
    assert _codec_cids(safe) == {11} and _core_free(safe)


# ------------------------------------------------- layout-fuzzed pruning safety


class _BitWriter:
    """MSB-first core-block writer (mirror of cram_codec.BitReader)."""

    def __init__(self):
        self.bits: list[int] = []

    def write(self, v: int, n: int) -> None:
        for i in reversed(range(n)):
            self.bits.append((v >> i) & 1)

    def blob(self) -> bytes:
        bits = self.bits + [0] * (-len(self.bits) % 8)
        return bytes(
            sum(b << (7 - j) for j, b in enumerate(bits[i : i + 8]))
            for i in range(0, len(bits), 8)
        )


_BETA_OFF, _BETA_BITS = 1024, 16


def _fuzz_layout_file(rng):
    """A complete single-container CRAM 3.0 file over 6 unmapped detached
    reads, with a RANDOMIZED compression-header layout: every int series
    is EXTERNAL (content id drawn from a small pool, so blocks are
    frequently SHARED between series), core BETA, or a zero-bit constant
    Huffman (when its values happen to be constant); RN is one of
    BYTE_ARRAY_STOP / BYTE_ARRAY_LEN(ext len) / BYTE_ARRAY_LEN(core len —
    the dangerous shape the skip analyses must veto) / BYTE_ARRAY_LEN
    (const-Huffman len); BA/QS are external or core BETA bytes; tag
    length codecs mix the same three choices.  Series values are emitted
    in EXACT decode order so shared blocks interleave correctly.

    Returns (file bytes, expected full rows, layout facts dict)."""
    from disq_original_spark.sources.cram_writer import (
        _tag_value_bytes,
        encode_block,
        encode_file_header_container,
        eof_container,
        file_definition,
        itf8,
        ltf8,
    )

    same_len_names = rng.random() < 0.3
    with_qual = rng.random() < 0.7
    cf = 3 if with_qual else 2  # detached (| QS preserved)
    records = []
    for i in range(6):
        rl = 4 if same_len_names else rng.randint(3, 6)
        name = (b"rd%04d" % i) if same_len_names else (b"read%d" % i) * (1 + i % 2)
        seq = bytes(rng.choice(b"ACGT") for _ in range(rl))
        qual = bytes(rng.randint(0, 40) for _ in range(rl)) if with_qual else None
        records.append(
            dict(
                name=name, flag=4, ri=-1, rl=rl, ap=rng.randint(0, 999),
                rg=-1, mf=0, ns=-1, np=0, ts=0, tl=0, seq=seq, qual=qual,
                tags=[("NM", "i", rng.randint(0, 200)), ("XA", "Z", "h%d" % (i % 3))],
            )
        )

    if rng.random() < 0.45:
        # sparse mode: every stream gets a dedicated content id, so the
        # exclusivity analysis frequently APPROVES skipping
        counter = iter(range(1, 200))
        pick_cid = lambda: next(counter)  # noqa: E731
    else:
        ncids = rng.randint(4, 16)
        pick_cid = lambda: rng.randint(1, ncids)  # noqa: E731
    ext_streams: dict[int, bytearray] = {}
    core = _BitWriter()

    def ext(cid):
        return ext_streams.setdefault(cid, bytearray())

    # --- choose a codec per series ------------------------------------
    int_series = ["BF", "CF", "RI", "RL", "AP", "RG", "MF", "NS", "NP", "TS", "TL"]
    const_val = {
        k: records[0][src]
        for k, src in (("BF", "flag"), ("RI", "ri"), ("RG", "rg"), ("MF", "mf"),
                       ("NS", "ns"), ("NP", "np"), ("TS", "ts"), ("TL", "tl"))
    }
    const_val["CF"] = cf
    layout: dict[str, tuple] = {}
    for k in int_series:
        r = rng.random()
        if k in const_val and r < 0.2:
            layout[k] = ("huffconst", const_val[k])
        elif r < 0.45:
            layout[k] = ("beta",)
        else:
            layout[k] = ("ext", pick_cid())
    for k in ("BA", "QS"):
        layout[k] = ("beta8",) if rng.random() < 0.2 else ("ext", pick_cid())
    rn_kind = rng.choice(["stop", "len_ext", "len_core", "len_const"])
    if rn_kind == "len_const" and not same_len_names:
        rn_kind = "len_ext"
    if rn_kind == "stop":
        layout["RN"] = ("stop", pick_cid())
    elif rn_kind == "len_ext":
        layout["RN"] = ("len", ("ext", pick_cid()), pick_cid())
    elif rn_kind == "len_core":
        layout["RN"] = ("len", ("beta",), pick_cid())
    else:
        layout["RN"] = ("len", ("huffconst", len(records[0]["name"])), pick_cid())
    tag_layout: dict[str, tuple] = {}
    for key, const_len in (("NMi", 4), ("XAZ", None)):
        r = rng.random()
        if r < 0.25 and const_len is not None:
            tag_layout[key] = (("huffconst", const_len), pick_cid())
        elif r < 0.5:
            tag_layout[key] = (("beta",), pick_cid())
        else:
            tag_layout[key] = (("ext", pick_cid()), pick_cid())

    # --- emit values in decode order ----------------------------------
    def put_int(k, v):
        enc = layout[k]
        if enc[0] == "ext":
            ext(enc[1]).extend(itf8(v))
        elif enc[0] == "beta":
            core.write(v + _BETA_OFF, _BETA_BITS)
        # huffconst: zero bits

    def put_len(enc, v):
        if enc[0] == "ext":
            ext(enc[1]).extend(itf8(v))
        elif enc[0] == "beta":
            core.write(v + _BETA_OFF, _BETA_BITS)

    def put_bytes_run(k, data):
        enc = layout[k]
        if enc[0] == "ext":
            ext(enc[1]).extend(data)
        else:  # beta8: one 8-bit core value per byte
            for b in data:
                core.write(b, 8)

    for rec in records:
        put_int("BF", rec["flag"])
        put_int("CF", cf)
        put_int("RI", rec["ri"])
        put_int("RL", rec["rl"])
        put_int("AP", rec["ap"])
        put_int("RG", rec["rg"])
        rn = layout["RN"]
        if rn[0] == "stop":
            ext(rn[1]).extend(rec["name"] + b"\x00")
        else:
            put_len(rn[1], len(rec["name"]))
            ext(rn[2]).extend(rec["name"])
        put_int("MF", rec["mf"])
        put_int("NS", rec["ns"])
        put_int("NP", rec["np"])
        put_int("TS", rec["ts"])
        put_int("TL", rec["tl"])
        for tag, typ, val in rec["tags"]:
            spec = f"{typ}:{val}"
            _typ, data = _tag_value_bytes(spec)
            lenc, vcid = tag_layout[tag + _typ]
            put_len(lenc, len(data))
            ext(vcid).extend(data)
        put_bytes_run("BA", rec["seq"])
        if with_qual:
            put_bytes_run("QS", rec["qual"])

    # --- compression header -------------------------------------------
    def enc_params(k):
        enc = layout[k]
        if enc[0] == "ext":
            return 1, itf8(enc[1])
        if enc[0] in ("beta", "beta8"):
            off, nb = (0, 8) if enc[0] == "beta8" else (_BETA_OFF, _BETA_BITS)
            return 6, itf8(off) + itf8(nb)
        return 3, itf8(1) + itf8(enc[1]) + itf8(1) + itf8(0)  # const Huffman

    def len_params(enc):
        if enc[0] == "ext":
            return 1, itf8(enc[1])
        if enc[0] == "beta":
            return 6, itf8(_BETA_OFF) + itf8(_BETA_BITS)
        return 3, itf8(1) + itf8(enc[1]) + itf8(1) + itf8(0)

    pm = bytearray()
    td_raw = b"NMiXAZ\x00"
    entries = [b"RN\x01", b"AP\x00", b"RR\x01", b"SM" + b"\x1b" * 5,
               b"TD" + itf8(len(td_raw)) + td_raw]
    pm += itf8(len(entries))
    for e in entries:
        pm += e
    ch = bytearray(itf8(len(pm)) + pm)
    ds = bytearray()
    used = int_series + ["RN", "BA"] + (["QS"] if with_qual else [])
    ds += itf8(len(used))
    for k in used:
        ds += k.encode()
        if k == "RN":
            rn = layout["RN"]
            if rn[0] == "stop":
                params = bytes([0x00]) + itf8(rn[1])
                ds += itf8(5) + itf8(len(params)) + params
            else:
                le, lp = len_params(rn[1])
                vp = itf8(rn[2])
                params = (itf8(le) + itf8(len(lp)) + lp
                          + itf8(1) + itf8(len(vp)) + vp)
                ds += itf8(4) + itf8(len(params)) + params
        else:
            e, p = enc_params(k)
            ds += itf8(e) + itf8(len(p)) + p
    ch += itf8(len(ds)) + ds
    te = bytearray(itf8(len(tag_layout)))
    for key in sorted(tag_layout):
        lenc, vcid = tag_layout[key]
        le, lp = len_params(lenc)
        vp = itf8(vcid)
        params = itf8(le) + itf8(len(lp)) + lp + itf8(1) + itf8(len(vp)) + vp
        kval = (ord(key[0]) << 16) | (ord(key[1]) << 8) | ord(key[2])
        te += itf8(kval) + itf8(4) + itf8(len(params)) + params
    ch += itf8(len(te)) + te

    # --- blocks / slice / container (mirrors cram_writer layout) -------
    major = 3
    chdr_block = encode_block(0, 1, 0, bytes(ch), major)
    core_block = encode_block(0, 5, 0, core.blob(), major)
    ext_blocks, content_ids = [], []
    for cid in sorted(ext_streams):
        content_ids.append(cid)
        ext_blocks.append(encode_block(0, 4, cid, bytes(ext_streams[cid]), major))
    sh = bytearray()
    sh += itf8(-2) + itf8(0) + itf8(0) + itf8(len(records)) + ltf8(0)
    sh += itf8(1 + len(ext_blocks)) + itf8(len(content_ids))
    for cid in content_ids:
        sh += itf8(cid)
    sh += itf8(-1) + b"\x00" * 16
    slice_block = encode_block(0, 2, 0, bytes(sh), major)
    body = chdr_block + slice_block + core_block + b"".join(ext_blocks)
    import struct as _s
    import zlib as _z

    hdr = bytearray(_s.pack("<i", len(body)))
    hdr += itf8(-2) + itf8(0) + itf8(0) + itf8(len(records)) + ltf8(0)
    hdr += ltf8(sum(r["rl"] for r in records))
    hdr += itf8(3 + len(ext_blocks)) + itf8(1) + itf8(len(chdr_block))
    hdr += _s.pack("<I", _z.crc32(bytes(hdr)))
    header_text = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000\n"
    blob = (
        file_definition(major=3, minor=0)
        + encode_file_header_container(header_text, major=3)
        + bytes(hdr) + body
        + eof_container(major=3)
    )

    expected = [
        {
            "qname": rec["name"].decode(), "flag": 4, "rname": None,
            "pos": rec["ap"], "mapq": 0, "cigar": "*", "rnext": None,
            "pnext": 0, "tlen": 0, "seq": rec["seq"].decode(),
            "qual": "".join(chr(q + 33) for q in rec["qual"]) if with_qual else "*",
            "attributes": {"NM": f"i:{rec['tags'][0][2]}",
                           "XA": f"Z:{rec['tags'][1][2]}"},
        }
        for rec in records
    ]

    # layout facts for coverage accounting (mirror of the skip analyses)
    def cids_of(k):
        enc = layout[k]
        if enc[0] == "ext":
            return {enc[1]}
        if enc[0] == "stop":
            return {enc[1]}
        if enc[0] == "len":
            inner = {enc[2]}
            if enc[1][0] == "ext":
                inner.add(enc[1][1])
            return inner
        return set()

    rn_cids = cids_of("RN")
    other_cids = set()
    for k in used:
        if k != "RN":
            other_cids |= cids_of(k)
    tag_cids = set()
    for key, (lenc, vcid) in tag_layout.items():
        tag_cids.add(vcid)
        if lenc[0] == "ext":
            tag_cids.add(lenc[1])
    rn_core = layout["RN"][0] == "len" and layout["RN"][1][0] == "beta"
    tags_core = any(lenc[0] == "beta" for lenc, _ in tag_layout.values())
    series_cids = set()
    for k in used:
        series_cids |= cids_of(k)
    facts = {
        "rn_skippable": bool(rn_cids) and not (rn_cids & (other_cids | tag_cids))
        and not rn_core,
        "tags_skippable": not tags_core and not (tag_cids & series_cids),
    }
    return blob, expected, facts


def test_pruning_safety_layout_fuzz():
    """VERDICT r7 directive #5: the decode-pruning safety analysis
    (external-block exclusivity AND core-freeness) fuzzed over 120
    randomized compression-header layouts.  For EVERY layout and every
    field subset, the pruned projection must equal the full decode's —
    whether the analysis decides to skip (exclusive core-free RN/tags)
    or is vetoed (shared blocks, core-consuming length codecs), the
    values may never change."""
    import itertools
    import random as _random

    from disq_original_spark.sources import cram_codec

    all_fields = ["qname", "flag", "rname", "pos", "mapq", "cigar",
                  "rnext", "pnext", "tlen", "seq", "qual", "attributes"]
    fixed_subsets = [
        {"flag", "rname", "pos"},          # counter scan
        {"qname"},                          # RN-only
        {"attributes"},                     # tags-only
        {"flag", "qual"},
        {"seq"},
        {"qname", "attributes", "tlen"},
    ]
    stats = {"rn_skip": 0, "rn_veto": 0, "tag_skip": 0, "tag_veto": 0}
    rng = _random.Random(1234)
    for _ in range(120):
        blob, expected, facts = _fuzz_layout_file(rng)
        meta, pos0 = cram_codec.read_cram_meta(blob)

        def walk(fields):
            rows, pos = [], pos0
            while pos < len(blob):
                chunk, pos = cram_codec.decode_container(
                    blob, pos, meta, None, fields=fields
                )
                rows.extend(chunk)
            return rows

        full = walk(None)
        assert full == expected  # the builder's own fidelity check
        subsets = fixed_subsets + [
            set(rng.sample(all_fields, rng.randint(1, 6))) for _ in range(2)
        ]
        for sub in subsets:
            pruned = walk(frozenset(sub))
            assert pruned == [
                {k: r[k] for k in r if k in sub} for r in full
            ], (sub, facts)
        stats["rn_skip" if facts["rn_skippable"] else "rn_veto"] += 1
        stats["tag_skip" if facts["tags_skippable"] else "tag_veto"] += 1
    # the fuzz must exercise BOTH outcomes of BOTH analyses
    assert all(v >= 5 for v in stats.values()), stats


def test_fqzcomp_block_fails_loud_by_name_but_pruned_scan_works(tmp_path):
    """The fqzcomp descope contract (decision note at the top of
    cram_codec.py): a 3.1 file whose QS block is method 7 must (a) fail
    loud NAMING the codec on a full decode, and (b) still serve a
    counter scan under column pruning — the lazy external-block path
    never inflates a fully-skipped quality block, so metadata queries
    over fqzcomp files keep working."""
    import struct as _s
    import zlib as _z
    from pathlib import Path

    import pytest

    from disq_original_spark.sources import cram_codec
    from disq_original_spark.sources.cram_writer import write_cram

    res = Path("/root/reference/src/test/resources")
    data = (res / "valid.cram").read_bytes()
    meta, pos0 = cram_codec.read_cram_meta(data)
    fasta = cram_codec.IndexedFasta(str(res / "valid.fasta"))
    rows, pos = [], pos0
    while pos < len(data):
        chunk, pos = cram_codec.decode_container(data, pos, meta, fasta.get)
        rows.extend(chunk)
    out = str(tmp_path / "q7.cram")
    write_cram(out, rows, meta.header_text, str(res / "valid.fasta"),
               version=(3, 1))
    blob = bytearray(Path(out).read_bytes())
    meta31, p0 = cram_codec.read_cram_meta(blob)

    # walk the data container's blocks; retag the QS external block
    # (content id 12 in this writer's layout) as method 7 + fix its CRC
    buf = cram_codec.Buf(bytes(blob))
    hdr = cram_codec.read_container_header(buf, p0, meta31.major)
    b = cram_codec.Buf(bytes(blob), hdr.offset + hdr.header_size)
    end = hdr.offset + hdr.header_size + hdr.length
    patched = False
    while b.pos < end:
        start = b.pos
        method, ctype = b.u8(), b.u8()
        cid, csize, _rsize = b.itf8(), b.itf8(), b.itf8()
        b.skip(csize)
        crc_pos = b.pos
        b.skip(4)
        if ctype == cram_codec.CT_EXTERNAL and cid == 12:
            blob[start] = 7  # fqzcomp
            blob[crc_pos:crc_pos + 4] = _s.pack(
                "<I", _z.crc32(bytes(blob[start:crc_pos]))
            )
            patched = True
    assert patched
    blob = bytes(blob)

    def walk(fields):
        rws, p = [], p0
        while p < len(blob):
            c, p = cram_codec.decode_container(blob, p, meta31, fasta.get,
                                               fields=fields)
            rws.extend(c)
        return rws

    with pytest.raises(ValueError, match="fqzcomp"):
        walk(None)
    pruned = walk(frozenset({"flag", "rname", "pos"}))
    assert [(r["flag"], r["rname"], r["pos"]) for r in pruned] == [
        (r["flag"], r["rname"], r["pos"]) for r in rows
    ]


def test_hand_built_31_container_conformance(spark, tmp_path):
    """VERDICT r7 directive #8: a CRAM 3.1 container byte-built BY HAND
    from the spec, using codec shapes this repo's writer never emits —
    a bzip2 whole block (method 2), an lzma whole block (method 3), a
    hand-packed rANS Nx16 PACK|CAT stream and a hand-built CAT stream,
    an arith EXT (bzip2-payload) quality block, and a hand-assembled
    tok3 name block — decoded through the DISTRIBUTED source, so the
    reader proves it accepts spec-legal artifacts from foreign encoders,
    not just its own writer's output."""
    import bz2 as _bz2
    import lzma as _lzma
    import struct as _s
    import zlib as _z
    from pathlib import Path

    from disq_original_spark.sources.cram import CramSource
    from disq_original_spark.sources.cram_writer import (
        encode_file_header_container,
        eof_container,
        file_definition,
        itf8,
        ltf8,
    )

    def raw_block(method: int, ctype: int, cid: int, payload: bytes,
                  rsize: int) -> bytes:
        out = (bytes([method, ctype]) + itf8(cid) + itf8(len(payload))
               + itf8(rsize) + payload)
        return out + _s.pack("<I", _z.crc32(out))

    # --- hand-built block payloads (2 reads: r1/AC/[30,31], r2/GT/[32,33])
    # rANS Nx16 CAT (flags 0x20): uint7 size then raw bytes
    ap_payload = bytes([0x20, 2, 5, 7])                       # AP = 5, 7
    # rANS Nx16 PACK|CAT (flags 0xA0): 1-symbol map packs to ZERO bytes
    rl_payload = bytes([0xA0, 2, 1, 2, 0])                    # RL = 2, 2
    # arith EXT (flags 0x04): uint7 size then a whole bzip2 stream
    qs_payload = bytes([0x04, 4]) + _bz2.compress(bytes([30, 31, 32, 33]))
    # tok3 names block, assembled descriptor-by-descriptor (CAT streams)
    def cat(body: bytes) -> bytes:
        return bytes([0x20, len(body)]) + body
    def t_stream(desc: int, body: bytes) -> bytes:
        comp = cat(body)
        return bytes([desc, len(comp)]) + comp
    rn_raw = b"r1\x00r2\x00"
    tok = _s.pack("<II", len(rn_raw), 2) + b"\x00"
    tok += t_stream(0x40 | 0, bytes([6, 6]))                  # TYPE: DIFF,DIFF
    tok += t_stream(6, _s.pack("<II", 0, 1))                  # DIFF dists
    tok += t_stream(0x40 | 0, bytes([1, 10]))                 # ALPHA, MATCH
    tok += t_stream(1, b"r\x00")                              # ALPHA 'r'
    tok += t_stream(0x40 | 0, bytes([7, 8]))                  # DIGITS, DDELTA
    tok += t_stream(7, _s.pack("<I", 1))                      # value 1
    tok += t_stream(8, bytes([1]))                            # 2 = 1 + 1
    tok += t_stream(0x40 | 0, bytes([12, 12]))                # END, END

    blocks = [
        raw_block(2, 4, 1, _bz2.compress(b"\x04\x04"), 2),    # BF bzip2
        raw_block(3, 4, 2, _lzma.compress(b"\x03\x03"), 2),   # CF lzma
        raw_block(0, 4, 3, itf8(-1) * 2, 10),                 # RI raw
        raw_block(5, 4, 4, rl_payload, 2),                    # RL Nx16 PACK
        raw_block(5, 4, 5, ap_payload, 2),                    # AP Nx16 CAT
        raw_block(0, 4, 6, itf8(-1) * 2, 10),                 # RG raw
        raw_block(8, 4, 7, tok, len(rn_raw)),                 # RN tok3
        raw_block(0, 4, 8, b"\x00\x00", 2),                   # MF
        raw_block(0, 4, 9, itf8(-1) * 2, 10),                 # NS
        raw_block(0, 4, 10, b"\x00\x00", 2),                  # NP
        raw_block(0, 4, 11, b"\x00\x00", 2),                  # TS
        raw_block(0, 4, 12, b"\x00\x00", 2),                  # TL
        raw_block(0, 4, 13, b"ACGT", 4),                      # BA
        raw_block(6, 4, 14, qs_payload, 4),                   # QS arith EXT
        raw_block(0, 4, 15, b"\x01\x01", 2),                  # XA len
        raw_block(0, 4, 16, b"uv", 2),                        # XA val
    ]
    content_ids = list(range(1, 17))

    # --- compression header: EXTERNAL everywhere, RN BYTE_ARRAY_STOP
    pm = bytearray()
    td_raw = b"XAZ\x00"
    entries = [b"RN\x01", b"AP\x00", b"RR\x01", b"SM" + b"\x1b" * 5,
               b"TD" + itf8(len(td_raw)) + td_raw]
    pm += itf8(len(entries))
    for e in entries:
        pm += e
    ch = bytearray(itf8(len(pm)) + pm)
    series = [("BF", 1), ("CF", 2), ("RI", 3), ("RL", 4), ("AP", 5),
              ("RG", 6), ("RN", 7), ("MF", 8), ("NS", 9), ("NP", 10),
              ("TS", 11), ("TL", 12), ("BA", 13), ("QS", 14)]
    ds = bytearray(itf8(len(series)))
    for k, cid in series:
        ds += k.encode()
        if k == "RN":
            params = bytes([0x00]) + itf8(cid)
            ds += itf8(5) + itf8(len(params)) + params
        else:
            params = itf8(cid)
            ds += itf8(1) + itf8(len(params)) + params
    ch += itf8(len(ds)) + ds
    lp, vp = itf8(15), itf8(16)
    params = itf8(1) + itf8(len(lp)) + lp + itf8(1) + itf8(len(vp)) + vp
    kval = (ord("X") << 16) | (ord("A") << 8) | ord("Z")
    ch += itf8(
        len(itf8(1) + itf8(kval) + itf8(4) + itf8(len(params)) + params)
    ) + itf8(1) + itf8(kval) + itf8(4) + itf8(len(params)) + params

    chdr_block = raw_block(0, 1, 0, bytes(ch), len(ch))
    core_block = raw_block(0, 5, 0, b"", 0)
    sh = bytearray()
    sh += itf8(-2) + itf8(0) + itf8(0) + itf8(2) + ltf8(0)
    sh += itf8(1 + len(blocks)) + itf8(len(content_ids))
    for cid in content_ids:
        sh += itf8(cid)
    sh += itf8(-1) + b"\x00" * 16
    slice_block = raw_block(0, 2, 0, bytes(sh), len(sh))
    body = chdr_block + slice_block + core_block + b"".join(blocks)
    hdr = bytearray(_s.pack("<i", len(body)))
    hdr += itf8(-2) + itf8(0) + itf8(0) + itf8(2) + ltf8(0) + ltf8(4)
    hdr += itf8(3 + len(blocks)) + itf8(1) + itf8(len(chdr_block))
    hdr += _s.pack("<I", _z.crc32(bytes(hdr)))
    header_text = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000\n"
    blob = (file_definition(major=3, minor=1)
            + encode_file_header_container(header_text, major=3)
            + bytes(hdr) + body + eof_container(major=3))
    path = tmp_path / "handbuilt31.cram"
    path.write_bytes(blob)

    df = CramSource().read(spark, str(path))
    rows = sorted(
        (r["qname"], r["flag"], r["pos"], r["seq"], r["qual"],
         dict(r["attributes"] or {}))
        for r in df.collect()
    )
    assert rows == [
        ("r1", 4, 5, "AC", chr(63) + chr(64), {"XA": "Z:u"}),
        ("r2", 4, 7, "GT", chr(65) + chr(66), {"XA": "Z:v"}),
    ]


def test_substitution_lut_matches_reference_semantics():
    """substitute() is the semantic anchor for the LUT the seq
    reconstruction inlines (r8 review): pin it against a transcription
    of the pre-LUT linear scan over every (matrix, ref byte, code)
    combination — first-match-wins on duplicate packed codes, 'N' for
    unmatched or out-of-range codes, lowercase ref bases as their
    uppercase form."""
    import random as _random

    from disq_original_spark.sources.cram_codec import (
        _SUB_BASES,
        _sub_lut,
        substitute,
    )

    def reference(matrix: bytes, ref_base: int, code: int) -> int:
        u = chr(ref_base).upper()
        order = "ACGTN".find(u)
        if order < 0:
            order, u = 4, "N"
        alts = _SUB_BASES[ord(u)]
        byte = matrix[order]
        for i in range(4):
            if (byte >> (6 - 2 * i)) & 0x3 == code:
                return alts[i]
        return ord("N")

    rng = _random.Random(7)
    matrices = [b"\x1b" * 5, bytes([0, 0, 0, 0, 0])] + [
        bytes(rng.randrange(256) for _ in range(5)) for _ in range(6)
    ]
    for m in matrices:
        lut = _sub_lut(m)
        for b in (list(b"ACGTNacgtnXx*\x00\xff") + [77, 200]):
            for code in range(-2, 6):
                assert substitute(m, b, code) == reference(m, b, code), (
                    m, b, code
                )
            # and the inline form _reconstruct_seq uses agrees
            for code in range(4):
                assert lut[b][code] == reference(m, b, code)


def test_substitution_lut_cache_evicts_lru_not_fifo():
    """ADVICE r8: eviction must be least-recently-USED, not oldest-
    inserted — a hot matrix touched on every slice must survive churn
    past the 64-entry cap even though it was inserted first."""
    from disq_original_spark.sources import cram_codec as cc

    cc._SUB_LUT_CACHE.clear()
    hot = bytes([0x1B] * 5)
    hot_lut = cc._sub_lut(hot)  # inserted FIRST
    # fill to one below the cap, then keep touching the hot matrix while
    # churning fresh matrices past it
    for i in range(63):
        cc._sub_lut(bytes([i % 251, (i >> 8) % 251, 1, 2, 3]))
    for i in range(10):
        assert cc._sub_lut(hot) is hot_lut  # hit refreshes recency
        cc._sub_lut(bytes([255, 254, i, 7, 11]))  # evicts ONE cold entry
        assert len(cc._SUB_LUT_CACHE) <= 64
    assert hot in cc._SUB_LUT_CACHE  # FIFO would have evicted it first
    cc._SUB_LUT_CACHE.clear()


def test_seq_reconstruction_rejects_feature_past_read_length():
    """r8 review finding: the bulk slice-copy path must not silently
    GROW the seq bytearray when a corrupt feature position lands past
    the read length (bytearray slice-assign past the end extends it) —
    it fails loud like the old per-base loop did."""
    from types import SimpleNamespace

    import pytest

    from disq_original_spark.sources.cram_codec import SliceDecoder

    fake = SimpleNamespace(
        chdr=SimpleNamespace(substitution_matrix=b"\x1b" * 5),
    )
    fake._ref = lambda ri: b"ACGT" * 100
    r = {"rl": 4, "ref_id": 0, "ap": 1,
         "features": [(50, "D", 1)]}  # feature at read pos 50 of a 4 bp read
    with pytest.raises(ValueError, match="exceed the read length"):
        SliceDecoder._reconstruct_seq(fake, r)
    # insertion features past rl too (2nd r8 review: the I/S/b
    # slice-assign branches had the same growth hole)
    r_ins = {"rl": 4, "ref_id": 0, "ap": 1,
             "features": [(4, "I", b"AAAAA")]}
    with pytest.raises(ValueError, match="exceed the read length"):
        SliceDecoder._reconstruct_seq(fake, r_ins)
    # sane features still reconstruct (2 bp deletion mid-read)
    r2 = {"rl": 4, "ref_id": 0, "ap": 1, "features": [(3, "D", 2)]}
    assert len(SliceDecoder._reconstruct_seq(fake, r2)) == 4


def test_cram31_multicontainer_split_invariance(spark, tmp_path):
    """The r8 bench reads the multi-container 3.1 fixture at
    split_size=28K; pin that container-aligned splitting is size-
    invariant on exactly that shape — a 3.1 file with many small
    containers (one per write partition), read at several split sizes
    including ones smaller than a container, must produce the same
    frame with no duplicated or dropped records."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from disq_original_spark.sources.cram import CramSink, CramSource
    from disq_original_spark.sources.cram_codec import read_cram_meta

    res = Path("/root/reference/src/test/resources")
    cram, fasta = str(res / "valid.cram"), str(res / "valid.fasta")
    hdr = read_cram_meta(Path(cram).read_bytes())[0].header_text
    df = (
        CramSource().read(spark, cram, reference_path=fasta)
        .crossJoin(spark.range(50).select(F.col("id").alias("rep")))
        .withColumn("qname", F.concat("qname", F.lit(":"), F.col("rep")))
        .drop("rep")
        .repartition(8)
    )
    out = str(tmp_path / "multi31.cram")
    CramSink().write(df, hdr, out, reference_path=fasta, version=(3, 1))

    key = lambda r: (r["qname"], r["flag"], r["rname"], r["pos"],
                     r["cigar"], r["seq"], r["qual"])
    frames = {}
    for ss in (4 * 1024, 28 * 1024, 1 << 20):
        rows = CramSource().read(
            spark, out, reference_path=fasta, split_size=ss
        ).collect()
        frames[ss] = sorted(map(key, rows))
    assert len(frames[1 << 20]) == 400
    assert frames[4 * 1024] == frames[28 * 1024] == frames[1 << 20]


def test_encode_qual_fails_loud_on_invalid_chars():
    """ADVICE r10: the translate-table fast path must not silently wrap
    qual chars below '!' to bogus phred bytes (space -> 0xFF via &0xFF),
    nor leak a raw UnicodeEncodeError for codepoints above U+00FF — both
    raise a ValueError naming the record, matching bam_codec's
    convention.  Valid quals still translate byte-for-byte."""
    import pytest

    from disq_original_spark.sources.cram_writer import _encode_qual

    assert _encode_qual("IIII", "r1") == b"\x28\x28\x28\x28"
    assert _encode_qual("!~", "r1") == b"\x00\x5d"
    with pytest.raises(ValueError, match=r"record 'r1'.*below '!'"):
        _encode_qual("II I", "r1")
    with pytest.raises(ValueError, match=r"record 'r2'.*non-phred"):
        _encode_qual("IIŁI", "r2")


def test_features_from_alignment_rejects_short_seq():
    """A CIGAR that implies more bases than seq carries must raise a
    named ValueError, not a numpy broadcast error (ADVICE r10)."""
    import pytest

    from disq_original_spark.sources.cram_writer import features_from_alignment

    with pytest.raises(ValueError, match="implies 8 bases"):
        features_from_alignment("ACGT", "IIII", "8M", 1, b"TTTTTTTT", b"\x1b" * 5)
