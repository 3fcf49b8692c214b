"""Python DataSource (Spark 4) facade: ``spark.read.format("bam")`` and
``spark.read.format("cram")``.

This is the idiomatic Spark surface for the reference's storage API
(`HtsjdkReadsRddStorage.read`, `HtsjdkReadsRddStorage.java:146-188`).  It
plans nothing and decodes nothing of its own: the reader runs the storage
reader's planner (``bam.plan_read`` / ``cram.plan_read``, serially — the
planning worker has no SparkSession), each ``TaskPartition`` carries one
task of that plan, and ``read()`` yields the read plane's Arrow batches
(``arrow_xfer.record_batches``).  Rows, their order within a task and the
partition ownership rules (``.sbi`` chunking, ``.bai``/``.csi`` pruning, qname
groups for a queryname-sorted BAM) are therefore those of
``BamSource.read`` / ``CramSource.read``.  Spark plans a Python DataSource
in extra Python workers, so the facade has a larger fixed cost per read
than the storage API (figures in ``arrow_xfer``).

Options:

- ``splitSize`` (bytes; default 128 MiB for BAM, 1 MiB for CRAM) — the
  reference's ``splitSize`` knob (`HtsjdkReadsRddStorage.java:84-90`).
- ``useSbi`` (BAM, default true) — consult ``path + ".sbi"`` for
  record-aligned chunking; without it the record guesser runs per split.
- ``intervals`` (BAM, JSON ``[["chr1", 100, 200], ...]``) — the reads
  overlapping any interval, exactly: ``.bai``/``.csi`` byte-range pushdown
  picks the chunks (a superset, bin granularity) and each task drops the
  reads no interval overlaps, the reference's residual query
  (`AbstractBinarySamSource.java:96-113`) run in the decode task.
- ``columns`` (``"flag,rname,pos"``) — decode-level pruning, the same
  contract as ``BamSource.read(columns=...)``.
- ``reference`` (CRAM) — the .fai-indexed FASTA required for mapped slices.

Filter pushdown: interval predicates (``rname = c AND pos BETWEEN ...``)
could only skip bytes with a ``.bai`` linear index; without one, evaluating
them in Python inside the source would be *slower* than letting Catalyst run
them natively after the scan, so ``pushFilters`` intentionally keeps every
filter in Spark.

SAM and VCF have no Python DataSource.  SAM's read path is a native
DataFrame text scan + JVM-side parsing expressions (`sources/sam.py`),
which stays inside whole-stage codegen — strictly faster than yielding
rows from Python.  VCF reads are planned by `VcfSource.read`
(`sources/vcf.py`), whose line tasks parse each record in the task.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from . import bam, cram
from .arrow_xfer import pruned_schema, record_batches
from .bam import READS_SCHEMA
from .sam import READS_COLUMNS, validate_columns


def _parse_columns_option(options: dict) -> frozenset | None:
    """``option("columns", "flag,rname,pos")`` -> validated frozenset
    (None when absent = full schema)."""
    raw = options.get("columns")
    if raw is None:
        return None
    cols = [c.strip() for c in str(raw).split(",") if c.strip()]
    validate_columns(cols, READS_COLUMNS, "reads")
    return frozenset(cols)


def _path(options: dict, fmt: str) -> str:
    path = options.get("path")
    if not path:
        raise ValueError(f"{fmt} source requires a path: .load('/path/to.{fmt}')")
    return path


@dataclass
class TaskPartition(InputPartition):
    task: tuple


class PlannedReader(DataSourceReader):
    """Partition *i* runs task *i* of a storage reader's ``(tasks,
    task_rows)`` plan.  The plan is made here, in the constructor: Spark
    pickles the reader for the executors before it asks for partitions."""

    def __init__(self, plan, schema):
        tasks, self.task_rows = plan
        self.parts = [TaskPartition(t) for t in tasks]
        self.schema = schema

    def partitions(self):
        return self.parts

    def read(self, partition: TaskPartition | None):
        if partition is None:
            return  # Spark's single call for an empty plan
        yield from record_batches(self.task_rows(partition.task), self.schema)


class BamDataSource(DataSource):
    """``spark.read.format("bam").load(path)`` → reads DataFrame."""

    @classmethod
    def name(cls) -> str:
        return "bam"

    def schema(self):
        return pruned_schema(READS_SCHEMA, _parse_columns_option(self.options))

    def reader(self, schema) -> PlannedReader:
        o = self.options
        iv = o.get("intervals")
        plan = bam.plan_read(
            None,
            _path(o, "bam"),
            [(c, int(s), int(e)) for c, s, e in json.loads(iv)] if iv else None,
            split_size=int(o.get("splitsize", 128 * 1024 * 1024)),
            use_sbi=str(o.get("usesbi", "true")).lower() != "false",
            fields=_parse_columns_option(o),
        )
        return PlannedReader(plan, schema)


class CramDataSource(DataSource):
    """``spark.read.format("cram").option("reference", fasta).load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "cram"

    def schema(self):
        return pruned_schema(READS_SCHEMA, _parse_columns_option(self.options))

    def reader(self, schema) -> PlannedReader:
        o = self.options
        plan = cram.plan_read(
            None,
            _path(o, "cram"),
            o.get("reference"),
            split_size=int(o.get("splitsize", 1 << 20)),
            fields=_parse_columns_option(o),
        )
        return PlannedReader(plan, schema)


def register_datasources(spark) -> None:
    """Register the custom format names on a SparkSession."""
    spark.dataSource.register(BamDataSource)
    spark.dataSource.register(CramDataSource)
