"""The read plane (``sources/arrow_xfer.py``), hermetic: every input is
built from the committed twins in ``fixtures/oracle/`` (``tests/twins.py``)
through the repo's own sinks.

- ``to_dataframe`` runs task *i* in partition *i*: rows come back in task
  order, and an empty plan is an empty frame of the declared schema.
- FASTA windows, BGZF block enumeration (two tilings) and BCF's nested
  ``genotypes``/``info`` values come through the plane unchanged.
- ``format("bam")`` and ``format("cram")`` run the storage readers' plans:
  same schema and same rows, in the same order, as ``BamSource.read`` /
  ``CramSource.read``, with and without ``option("columns", ...)``; a
  queryname-sorted BAM keeps every qname in one partition.
- BAM and VCF split sweeps return rows in file order.
- The same reads read with ``READS_SCHEMA`` as SAM, BAM and CRAM, and the
  same VCF text with ``VARIANTS_SCHEMA`` as BGZF, plain text and gzip.
- Region reads the index prunes completely (BCF + ``.csi``, CRAM +
  ``.crai``) return no row, with exactly the requested schema.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from disq_original_spark.sources import cram
from disq_original_spark.sources.arrow_xfer import pruned_schema, to_dataframe
from disq_original_spark.sources.bam import READS_SCHEMA, BamSink, BamSource
from disq_original_spark.sources.bcf import BcfSource
from disq_original_spark.sources.bgzf import enumerate_blocks
from disq_original_spark.sources.bgzf_source import BgzfBlockSource
from disq_original_spark.sources.cram import CramSource
from disq_original_spark.sources.datasource import register_datasources
from disq_original_spark.sources.fasta import FastaSource
from disq_original_spark.sources.headers import SamHeader
from disq_original_spark.sources.sam import SamSink
from disq_original_spark.sources.vcf import VARIANTS_SCHEMA
from disq_original_spark.storage import ReadsStorage, VariantsStorage

from .twins import (
    CRAM_HEADER,
    cram_reads,
    frame,
    reads_header,
    reads_rows,
    seeded_fasta,
    sorted_reads,
    variants,
    write_qname_sorted_bam,
)

SPLIT = 16 * 1024
CRAM_SPLIT = 4 * 1024  # one container (~5 KB) per task


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """Coordinate- and queryname-sorted BAMs, a CRAM + .crai over a seeded
    FASTA, a BGZF VCF and a BCF + .csi, all written by the repo's sinks."""
    d = tmp_path_factory.mktemp("plane")
    reads = sorted_reads()
    header = reads_header()
    paths = {"bam": str(d / "r.bam"), "qname_bam": str(d / "q.bam"), "cram": str(d / "r.cram")}
    BamSink().write(frame(spark, reads_rows(reads), READS_SCHEMA).coalesce(1), header, paths["bam"])
    write_qname_sorted_bam(spark, paths["qname_bam"])
    fasta = seeded_fasta(d)
    # four partitions of consecutive rows: four containers
    cram_df = (
        frame(spark, reads_rows(cram_reads(reads)), READS_SCHEMA)
        .coalesce(1)
        .withColumn("_i", F.monotonically_increasing_id())
        .repartitionByRange(4, "_i")
        .sortWithinPartitions("_i")
        .drop("_i")
    )
    ReadsStorage(spark, reference_path=fasta).write(
        cram_df,
        paths["cram"],
        SamHeader.parse(CRAM_HEADER),
        write_index=True,
    )
    vrows, vheader = variants()
    vdf = frame(spark, vrows, VARIANTS_SCHEMA).coalesce(1)
    for fmt, name in (("vcf", "v.vcf.bgz"), ("bcf", "v.bcf")):
        paths[fmt] = str(d / name)
        VariantsStorage(spark).write(vdf, paths[fmt], vheader, write_index=True)
    assert Path(paths["cram"] + ".crai").is_file() and Path(paths["bcf"] + ".csi").is_file()
    return {"paths": paths, "fasta": fasta, "variants": vdf}


def _key(v):
    """Hashable, order-canonical form of a collected cell or row."""
    if isinstance(v, dict):
        return tuple(sorted((k, _key(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_key(x) for x in v)
    return v


def _rows(df) -> list:
    return [_key(r.asDict(recursive=True)) for r in df.collect()]


def test_to_dataframe_runs_task_i_in_partition_i(spark):
    schema = StructType([StructField("task", LongType()), StructField("v", StringType())])
    tasks = list(range(7))

    def task_rows(t):
        for j in range(t % 3):
            yield {"task": t, "v": f"{t}.{j}", "unused": None}

    df = to_dataframe(spark, tasks, task_rows, schema)
    assert df.schema == schema
    assert df.rdd.getNumPartitions() == len(tasks)
    got = df.withColumn("pid", F.spark_partition_id()).collect()
    assert [(r["task"], r["v"]) for r in got] == [(t, f"{t}.{j}") for t in tasks for j in range(t % 3)]
    assert all(r["pid"] == r["task"] for r in got)
    empty = to_dataframe(spark, [], task_rows, schema)
    assert empty.schema == schema and empty.collect() == []


def test_fasta_windows(spark, inputs):
    fasta = inputs["fasta"]
    bases = "".join(Path(fasta).read_text().splitlines()[1:])
    window, overlap = 1000, 50
    df = FastaSource().read(spark, fasta, window=window, split_windows=3, overlap=overlap)
    assert df.rdd.getNumPartitions() == 7  # 20 windows, 3 per task
    want = [
        ("c1", w + 1, w + len(bases[w : w + window + overlap]), bases[w : w + window + overlap])
        for w in range(0, len(bases), window)
    ]
    assert [tuple(r) for r in df.collect()] == want


@pytest.mark.parametrize("split", [SPLIT, 40 * 1024])
def test_bgzf_blocks_equal_in_process_enumeration(spark, inputs, split):
    path = inputs["paths"]["bam"]
    with open(path, "rb") as fh:
        want = [(path, b.pos, b.c_size, b.u_size) for b in enumerate_blocks(fh)]
    df = BgzfBlockSource().blocks(spark, path, split_size=split)
    assert df.rdd.getNumPartitions() > 1
    assert [tuple(r) for r in df.collect()] == want


def _f32(rows: list) -> Counter:
    """BCF stores QUAL as float32: compare both sides at float32."""
    out = []
    for r in rows:
        r = dict(r)
        if r.get("qual") is not None:
            r["qual"] = float(np.float32(r["qual"]))
        out.append(_key(r))
    return Counter(out)


def test_bcf_nested_values(spark, inputs):
    path, written = inputs["paths"]["bcf"], inputs["variants"]
    as_dicts = lambda df: [r.asDict(recursive=True) for r in df.collect()]  # noqa: E731
    assert _f32(as_dicts(BcfSource().read(spark, path))) == _f32(as_dicts(written))
    pruned = BcfSource().read(spark, path, columns=["info", "genotypes"])
    assert pruned.schema == pruned_schema(VARIANTS_SCHEMA, {"info", "genotypes"})
    assert _f32(as_dicts(pruned)) == _f32(as_dicts(written.select("info", "genotypes")))
    assert any(g["attrs"] for r in as_dicts(pruned) for g in r["genotypes"])


def _datasource(spark, fmt, path, fasta, columns):
    register_datasources(spark)
    r = spark.read.format(fmt).option("splitSize", CRAM_SPLIT if fmt == "cram" else SPLIT)
    if fmt == "cram":
        r = r.option("reference", fasta)
    if columns is not None:
        r = r.option("columns", ",".join(columns))
    return r.load(path)


def _storage(spark, fmt, path, fasta, columns):
    if fmt == "cram":
        return CramSource().read(spark, path, fasta, split_size=CRAM_SPLIT, columns=columns)
    return BamSource().read(spark, path, split_size=SPLIT, columns=columns)


@pytest.mark.parametrize("columns", [None, ["qual", "flag", "pos"]])
@pytest.mark.parametrize("fmt", ["bam", "cram"])
def test_datasource_equals_storage_read(spark, inputs, fmt, columns):
    path, fasta = inputs["paths"][fmt], inputs["fasta"]
    ds = _datasource(spark, fmt, path, fasta, columns)
    src = _storage(spark, fmt, path, fasta, columns)
    assert ds.schema == src.schema == pruned_schema(READS_SCHEMA, columns)
    assert ds.rdd.getNumPartitions() == src.rdd.getNumPartitions() > 1
    assert _rows(ds) == _rows(src)


@pytest.mark.parametrize("columns", [None, ["flag", "rname"]])
def test_datasource_keeps_qname_groups_whole(spark, inputs, columns):
    """A queryname-sorted BAM read through ``format("bam")`` gets qname
    group ownership from its header, as ``BamSource.read`` does: no qname
    straddles two partitions, and no option asks for it."""
    path = inputs["paths"]["qname_bam"]
    ds = _datasource(spark, "bam", path, None, columns)
    assert ds.rdd.getNumPartitions() > 4
    assert _rows(ds) == _rows(_storage(spark, "bam", path, None, columns))
    full = _datasource(spark, "bam", path, None, None)
    owners: dict[str, set] = {}
    for q, pid in full.select("qname", F.spark_partition_id()).collect():
        owners.setdefault(q, set()).add(pid)
    assert len({pid for pids in owners.values() for pid in pids}) > 4
    assert [q for q, pids in owners.items() if len(pids) > 1] == []
    assert sum(1 for _ in owners) < full.count()  # the file has pairs


@pytest.mark.parametrize("fmt", ["bam", "vcf"])
def test_split_sweep_keeps_file_order(spark, inputs, fmt):
    """Rows come back in file order: a read cut into many splits collects
    to the same sequence as one whole-file task."""
    path = inputs["paths"][fmt]
    if fmt == "bam":
        read = lambda split: BamSource().read(spark, path, split_size=split)  # noqa: E731
    else:
        read = lambda split: VariantsStorage(spark, split_size=split).read(path)  # noqa: E731
    whole = _rows(read(1 << 30))
    for split in (SPLIT, 64 * 1024):
        df = read(split)
        assert df.rdd.getNumPartitions() > 1
        assert _rows(df) == whole, split


def _vcf_encodings(bgz: str, d: Path) -> dict[str, str]:
    """The BGZF VCF and its plain-text and true-gzip twins in ``d``."""
    import gzip

    text = gzip.decompress(Path(bgz).read_bytes())
    (d / "v.vcf").write_bytes(text)
    (d / "v.vcf.gz").write_bytes(gzip.compress(text))
    return {"bgzf": bgz, "text": str(d / "v.vcf"), "gzip": str(d / "v.vcf.gz")}


def test_vcf_encodings_read_one_schema(spark, inputs, tmp_path):
    """The same VCF text reads with ``VARIANTS_SCHEMA`` and the same rows
    whether it is BGZF, plain text or true gzip."""
    got = {}
    for enc, path in _vcf_encodings(inputs["paths"]["vcf"], tmp_path).items():
        df = VariantsStorage(spark).read(path)
        assert df.schema == VARIANTS_SCHEMA, enc
        got[enc] = sorted(_rows(df))
    assert got["bgzf"] == got["text"] == got["gzip"] != []


def test_reads_formats_read_one_schema(spark, inputs, tmp_path):
    """The twins read with ``READS_SCHEMA`` as SAM, BAM and CRAM, and the
    SAM the BAM's reads are written to reads back the BAM's rows."""
    storage = ReadsStorage(spark, reference_path=inputs["fasta"])
    bam = storage.read(inputs["paths"]["bam"])
    sam = str(tmp_path / "r.sam")
    SamSink().write(bam, reads_header(), sam)
    schemas = {fmt: storage.read(p).schema for fmt, p in (("sam", sam), ("bam", inputs["paths"]["bam"]),
                                                          ("cram", inputs["paths"]["cram"]))}
    assert schemas == {"sam": READS_SCHEMA, "bam": READS_SCHEMA, "cram": READS_SCHEMA}
    assert sorted(_rows(storage.read(sam))) == sorted(_rows(bam)) != []


@pytest.mark.parametrize("columns", [["pos", "contig"], ["genotypes", "qual", "info"], ["alts", "filters", "id"]])
def test_vcf_columns_prune_the_decode(spark, inputs, tmp_path, columns):
    """``columns`` gives exactly those columns, in schema order (the
    pruned ``VARIANTS_SCHEMA``), with the rows of the projected full read:
    BGZF whole-file and region, plain text and true gzip.  A line task
    parses INFO and FORMAT only when they are requested."""
    from disq_original_spark.sources.vcf import parse_vcf_line

    paths = _vcf_encodings(inputs["paths"]["vcf"], tmp_path)
    iv = spark.createDataFrame([("chr1", 100_000, 2_000_000)], "contig string, start long, end long")
    ordered = [c for c in VARIANTS_SCHEMA.names if c in columns]
    got = {}
    for enc, ivs in (("bgzf", None), ("bgzf", iv), ("text", None), ("gzip", None)):
        storage = VariantsStorage(spark, split_size=SPLIT if enc == "bgzf" else None)
        full = storage.read(paths[enc], intervals=ivs).select(*ordered)
        df = storage.read(paths[enc], intervals=ivs, columns=columns)
        assert df.columns == ordered and df.schema == pruned_schema(VARIANTS_SCHEMA, columns)
        got[enc, ivs is None] = _rows(df)
        assert got[enc, ivs is None] == _rows(full) != []
    assert got["bgzf", True] == got["text", True] == got["gzip", True]
    line = "chr1\t5\t.\tG\tT\t9\tPASS\tDP=3\tGT\t0/1"
    site = {"contig", "pos", "id", "ref", "alts", "qual", "filters"}
    assert set(parse_vcf_line(line, ["s"], frozenset(columns))) == site | set(columns)


@pytest.mark.parametrize("columns", [None, ["pos", "ref"]])
def test_bcf_region_pruned_to_nothing(spark, inputs, columns):
    df = BcfSource().read(spark, inputs["paths"]["bcf"], intervals=[("nosuch", 1, 100)], columns=columns)
    assert df.schema == pruned_schema(VARIANTS_SCHEMA, columns)
    assert df.collect() == []


@pytest.mark.parametrize("columns", [None, ["qname", "mapq"]])
def test_cram_region_pruned_to_nothing(spark, inputs, columns):
    path, fasta = inputs["paths"]["cram"], inputs["fasta"]
    ivs = [("c1", 50_000, 50_100)]  # past every read
    assert cram.plan_read(None, path, fasta, iv_rows=ivs)[0] == []
    iv = spark.createDataFrame(ivs, "contig string, start long, end long")
    df = CramSource().read(spark, path, fasta, intervals=iv, columns=columns)
    assert df.schema == pruned_schema(READS_SCHEMA, columns)
    assert df.collect() == []
