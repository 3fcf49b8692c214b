"""Sinks, hermetic: every input is built from the committed twins in
``fixtures/oracle/`` (``tests/twins.py``).

- Every format (BAM, CRAM, BGZF VCF, plain VCF, BCF, SAM), single-file
  and sharded, index off and on, over a 3-partition position-sorted frame:
  the read-back equals the input as exact multisets, and every write-time
  index is byte-identical to the post-hoc build over the same output
  (``.bai``, ``.sbi`` for one-part files, ``.tbi``, ``.crai``, Tribble
  ``.idx``).
- One-part invariant: a sharded write of a one-partition frame yields a
  shard, and shard indexes, byte-identical to the single-file write.
- An indexed BAM and an indexed BGZF VCF write through a ``mock://``
  scheme (``MappedFileSystem``), so every step of the commit goes through
  the pluggable filesystem.
"""

from __future__ import annotations

import os
from collections import Counter
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from disq_original_spark.sources.bai import create_bai
from disq_original_spark.sources.bam import READS_SCHEMA, BamSink, BamSource, create_sbi
from disq_original_spark.sources.cram import create_crai
from disq_original_spark.sources.fsio import MappedFileSystem, register_filesystem, unregister_filesystem
from disq_original_spark.sources.headers import SamHeader
from disq_original_spark.sources.tabix import create_tabix_index
from disq_original_spark.sources.tribble import create_tribble_index
from disq_original_spark.sources.vcf import VARIANTS_SCHEMA, VcfSink, VcfSource
from disq_original_spark.storage import ReadsStorage, VariantsStorage

from .twins import CRAM_HEADER, cram_reads, frame, reads_header, reads_rows, seeded_fasta, sorted_reads, variants

# format -> (file name, write-time index suffixes)
FORMATS = {
    "bam": ("r.bam", (".sbi", ".bai")),
    "cram": ("r.cram", (".crai",)),
    "vcf": ("v.vcf.bgz", (".tbi",)),
    "text": ("v.vcf", (".idx",)),
    "bcf": ("v.bcf", (".csi",)),
    "sam": ("r.sam", ()),
}
READS_FORMATS = ("bam", "cram", "sam")


@pytest.fixture(scope="module")
def data(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sink_inputs")
    reads = sorted_reads()
    vrows, vheader = variants()
    return {
        "fasta": seeded_fasta(d),
        "rows": {
            "reads": (reads_rows(reads), READS_SCHEMA),
            "cram": (reads_rows(cram_reads(reads)), READS_SCHEMA),
            "variants": (vrows, VARIANTS_SCHEMA),
        },
        "headers": {"reads": reads_header(), "cram": SamHeader.parse(CRAM_HEADER), "variants": vheader},
    }


def _kind(fmt: str) -> str:
    return {"bam": "reads", "sam": "reads", "cram": "cram"}.get(fmt, "variants")


def _input(spark, data, fmt: str, n_parts: int):
    """The format's rows in position order, cut into ``n_parts`` partitions
    of consecutive rows."""
    rows, schema = data["rows"][_kind(fmt)]
    df = (
        frame(spark, rows, schema)
        .coalesce(1)
        .withColumn("_i", F.monotonically_increasing_id())
        .repartitionByRange(n_parts, "_i")
        .sortWithinPartitions("_i")
        .drop("_i")
    )
    assert df.rdd.getNumPartitions() == n_parts
    return df


def _write(spark, data, fmt: str, df, path: str, index: bool) -> None:
    header = data["headers"][_kind(fmt)]
    if fmt in READS_FORMATS:
        ReadsStorage(spark, reference_path=data["fasta"]).write(df, path, header, write_index=index)
    else:
        VariantsStorage(spark).write(df, path, header, write_index=index)


def _read(spark, data, fmt: str, path: str):
    if fmt in READS_FORMATS:
        return ReadsStorage(spark, reference_path=data["fasta"]).read(path)
    return VariantsStorage(spark).read(path)


def _key(v):
    """Hashable, order-canonical form of a collected cell or row."""
    if isinstance(v, dict):
        return tuple(sorted((k, _key(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_key(x) for x in v)
    return v


def _multiset(df, fmt: str) -> Counter:
    """Rows as a multiset.  BCF stores QUAL as a float32 value, so both
    sides compare at float32 there."""
    rows = [r.asDict(recursive=True) for r in df.collect()]
    if fmt == "bcf":
        for r in rows:
            r["qual"] = None if r["qual"] is None else float(np.float32(r["qual"]))
    return Counter(_key(r) for r in rows)


def _data_files(path: str, fmt: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    ext = FORMATS[fmt][0].split(".", 1)[1]
    return sorted(str(p) for p in Path(path).iterdir() if p.name.endswith("." + ext))


def _posthoc(fmt: str, suffix: str, f: str, fasta: str, tmp: Path) -> bytes:
    """The sequential post-hoc build of ``f``'s ``suffix`` index."""
    if suffix == ".bai":
        return Path(create_bai(f)).read_bytes()
    if suffix == ".sbi":
        return Path(create_sbi(f)).read_bytes()
    if suffix == ".idx":
        return Path(create_tribble_index(f)).read_bytes()
    out = str(tmp / f"posthoc{suffix}")
    if suffix == ".tbi":
        create_tabix_index(f, out=out)
    else:
        create_crai(f, out=out, reference_path=fasta)
    return Path(out).read_bytes()


@pytest.mark.parametrize("index", [False, True], ids=["noindex", "index"])
@pytest.mark.parametrize("sharded", [False, True], ids=["single", "sharded"])
@pytest.mark.parametrize("fmt", list(FORMATS))
def test_sink_round_trip_and_write_time_indexes(spark, data, tmp_path, fmt, sharded, index):
    df = _input(spark, data, fmt, 3)
    path = str(tmp_path / FORMATS[fmt][0]) + (".sharded" if sharded else "")
    if fmt == "sam" and index:
        with pytest.raises(ValueError, match="write_index"):
            _write(spark, data, fmt, df, path, index)
        return
    _write(spark, data, fmt, df, path, index)
    assert _multiset(_read(spark, data, fmt, path), fmt) == _multiset(df, fmt)

    files = _data_files(path, fmt)
    assert len(files) == (3 if sharded else 1)
    suffixes = FORMATS[fmt][1]
    for f in files:
        present = {s for s in (".sbi", ".bai", ".crai", ".tbi", ".idx", ".csi") if os.path.exists(f + s)}
        assert present == (set(suffixes) if index else set()), f
        if not index:
            continue
        # .sbi entries restart per part: equal to the post-hoc build only
        # for a one-part file (every shard); BCF has no post-hoc builder
        for suffix in set(suffixes) - {".csi"} - ({".sbi"} if not sharded else set()):
            written = Path(f + suffix).read_bytes()
            assert written == _posthoc(fmt, suffix, f, data["fasta"], tmp_path), (f, suffix)


@pytest.mark.parametrize("fmt", list(FORMATS))
def test_one_part_shard_equals_single_file(spark, data, tmp_path, fmt):
    """A sharded write of a one-partition frame is the single-file write of
    that frame: same data bytes, same index bytes."""
    df = _input(spark, data, fmt, 1)
    index = fmt != "sam"
    single = str(tmp_path / FORMATS[fmt][0])
    sharded = single + ".sharded"
    _write(spark, data, fmt, df, single, index)
    _write(spark, data, fmt, df, sharded, index)
    (shard,) = _data_files(sharded, fmt)
    assert Path(shard).read_bytes() == Path(single).read_bytes()
    for suffix in FORMATS[fmt][1]:
        got, want = Path(shard + suffix).read_bytes(), Path(single + suffix).read_bytes()
        if suffix == ".idx":  # a Tribble index names the file it indexes
            got = got.replace(shard.encode(), single.encode())
        assert got == want, suffix
    if fmt == "bam":
        written = Path(single + ".sbi").read_bytes()
        assert written == _posthoc(fmt, ".sbi", single, data["fasta"], tmp_path)


@pytest.fixture()
def mock_fs(tmp_path):
    fs = MappedFileSystem("mock", str(tmp_path))
    register_filesystem("mock", fs)
    yield fs
    unregister_filesystem("mock")


def test_indexed_bam_write_on_mock_scheme(spark, data, mock_fs, tmp_path):
    df = _input(spark, data, "bam", 3)
    BamSink().write(df, data["headers"]["reads"], "mock://out/r.bam", write_sbi=True, write_bai=True)
    written = mock_fs.read_bytes("mock://out/r.bam.bai")
    assert written == mock_fs.read_bytes(create_bai("mock://out/r.bam"))
    assert mock_fs.exists("mock://out/r.bam.sbi")
    assert _multiset(BamSource().read(spark, "mock://out/r.bam", use_sbi=True), "bam") == _multiset(df, "bam")


def test_indexed_vcf_write_on_mock_scheme(spark, data, mock_fs, tmp_path):
    df = _input(spark, data, "vcf", 3)
    VcfSink().write(df, data["headers"]["variants"], "mock://out/v.vcf.bgz", write_index=True)
    create_tabix_index("mock://out/v.vcf.bgz", out="mock://out/posthoc.tbi")
    assert mock_fs.read_bytes("mock://out/v.vcf.bgz.tbi") == mock_fs.read_bytes("mock://out/posthoc.tbi")
    assert _multiset(VcfSource().read(spark, "mock://out/v.vcf.bgz"), "vcf") == _multiset(df, "vcf")
