"""Python DataSource (Spark 4) facade: ``spark.read.format("bam")``.

This is the idiomatic Spark surface for the reference's storage API
(`HtsjdkReadsRddStorage.read`, `HtsjdkReadsRddStorage.java:146-188`): the
driver plans byte-range splits (consulting the ``.sbi`` splitting index when
present, fixing the reference's dead SBI path at `bam/BamSource.java:74-92`),
each ``InputPartition`` carries one split, and executors map their split to a
record-aligned virtual-offset chunk and decode records.

Options:

- ``splitSize`` (bytes, default 128 MiB) — the reference's ``splitSize``
  knob (`HtsjdkReadsRddStorage.java:84-90`).
- ``useSbi`` (default true) — consult ``path + ".sbi"`` for record-aligned
  chunking; without it the record guesser runs per split.

Filter pushdown: interval predicates (``rname = c AND pos BETWEEN ...``)
could only skip bytes with a ``.bai`` linear index; without one, evaluating
them in Python inside the source would be *slower* than letting Catalyst run
them natively after the scan, so ``pushFilters`` intentionally keeps every
filter in Spark (see `AbstractBinarySamSource.java:96-113` for the
reference's index-backed equivalent).

SAM and VCF intentionally have no Python DataSource: their read paths are
native DataFrame text scans + JVM-side parsing expressions
(`sources/sam.py` / `sources/vcf.py`), which stay inside whole-stage
codegen — strictly faster than yielding rows from Python.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .bam import READS_SCHEMA, _expand_files, records_for_split
from .fsio import get_fs
from .headers import read_bam_header
from .sam import READS_COLUMNS

_BATCH = 8192


def _parse_columns_option(options: dict) -> frozenset | None:
    """``option("columns", "flag,rname,pos")`` -> validated frozenset
    (None when absent = full schema)."""
    raw = options.get("columns")
    if raw is None:
        return None
    cols = [c.strip() for c in str(raw).split(",") if c.strip()]
    from .sam import validate_columns

    validate_columns(cols, READS_COLUMNS, "reads")
    return frozenset(cols)


def _pruned_reads_schema(options: dict):
    fields = _parse_columns_option(options)
    if fields is None:
        return READS_SCHEMA
    from pyspark.sql.types import StructType

    from .sam import schema_ordered

    return StructType([READS_SCHEMA[c] for c in schema_ordered(READS_COLUMNS, fields)])


def _reads_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("qname", pa.string()),
            ("flag", pa.int32()),
            ("rname", pa.string()),
            ("pos", pa.int64()),
            ("mapq", pa.int32()),
            ("cigar", pa.string()),
            ("rnext", pa.string()),
            ("pnext", pa.int64()),
            ("tlen", pa.int64()),
            ("seq", pa.string()),
            ("qual", pa.string()),
            ("attributes", pa.map_(pa.string(), pa.string())),
        ]
    )


def _arrow_batches(row_iter, fields: frozenset | None = None):
    """Yield pyarrow RecordBatches from reads-schema row dicts — Spark 4
    DataSource readers may yield batches instead of per-row tuples, which
    skips the per-row pickle entirely (same Arrow plane as arrow_xfer).
    ``fields`` selects a schema subset (matching decode-level pruning)."""
    import pyarrow as pa

    full = _reads_arrow_schema()
    if fields is None:
        cols, schema = READS_COLUMNS, full
    else:
        from .sam import schema_ordered

        cols = schema_ordered(READS_COLUMNS, fields)
        schema = pa.schema([full.field(c) for c in cols])

    def to_batch(buf):
        return pa.RecordBatch.from_pydict(
            {c: [r[c] for r in buf] for c in cols}, schema=schema
        )

    buf: list[dict] = []
    for row in row_iter:
        buf.append(row)
        if len(buf) == _BATCH:
            yield to_batch(buf)
            buf = []
    if buf:
        yield to_batch(buf)


@dataclass
class BamInputPartition(InputPartition):
    path: str
    start: int
    end: int
    ref_names: tuple[str, ...]
    n_ref: int
    first_voffset: int
    sbi_offsets: tuple[int, ...] | None
    bai_ranges: tuple[tuple[int, int], ...] | None = None


class BamDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("bam source requires a path: .load('/path/to.bam')")
        self.split_size = int(options.get("splitsize", 128 * 1024 * 1024))
        self.use_sbi = str(options.get("usesbi", "true")).lower() != "false"
        # option("intervals", '[["chr1", 100, 200], ...]'): .bai byte-range
        # pushdown.  The index yields a superset (bin granularity); pair with
        # an interval filter for exact overlap semantics, as the reference
        # does with its residual query (`AbstractBinarySamSource.java:96-113`).
        import json

        iv = options.get("intervals")
        self.intervals = (
            [(c, int(s), int(e)) for c, s, e in json.loads(iv)] if iv else None
        )
        # option("groupByQname", "true"): queryname-sorted inputs keep whole
        # read groups within one partition (same knob as BamSource.read)
        self.group_by_qname = (
            str(options.get("groupbyqname", "false")).lower() == "true"
        )
        # option("columns", "flag,rname,pos"): decode-level pruning (the
        # same contract as BamSource.read(columns=...))
        self.fields = _parse_columns_option(options)
        # resolved driver-side; the pickled reader carries it to executors
        self.fs = get_fs(self.path)

    def partitions(self):
        from .bam import LAZY_FIRST_VOFFSET, _collect_file_metadata

        fs = self.fs
        files = _expand_files(self.path, fs)
        # one driver header read (same-header directory contract,
        # `HtsjdkReadsRddStorage.java:150-156`); other files resolve their
        # header end lazily in the task
        _header, refs, first_voffset0 = read_bam_header(files[0])
        ref_names = tuple(r[0] for r in refs)
        ivs = None
        if self.intervals is not None:
            name_to_id = {nm: i for i, nm in enumerate(ref_names)}
            ivs = [
                (name_to_id[c], s, e)
                for c, s, e in self.intervals
                if c in name_to_id
            ]
        # BamSource's planner, run serially: the planning worker has no
        # SparkSession.  It refuses a stale .bai/.csi/.sbi.
        metas = _collect_file_metadata(None, files, fs, self.use_sbi, ivs, job_threshold=len(files) + 1)
        parts: list[BamInputPartition] = []
        for i, (f, flen, sbi_offsets, bai_ranges) in enumerate(metas):
            if bai_ranges is not None and not bai_ranges:
                continue  # no index range meets the intervals: nothing to read
            first_voffset = first_voffset0 if i == 0 else LAZY_FIRST_VOFFSET
            for s in range(0, flen, self.split_size):
                parts.append(
                    BamInputPartition(
                        f,
                        s,
                        min(s + self.split_size, flen),
                        ref_names,
                        len(refs),
                        first_voffset,
                        sbi_offsets,
                        None if bai_ranges is None else tuple(bai_ranges),
                    )
                )
        return parts

    def read(self, partition: BamInputPartition | None):
        if partition is None:
            return  # Spark's single call for an empty plan
        yield from _arrow_batches(
            records_for_split(
                partition.path,
                partition.start,
                partition.end,
                list(partition.ref_names),
                partition.n_ref,
                partition.first_voffset,
                partition.sbi_offsets,
                None if partition.bai_ranges is None else list(partition.bai_ranges),
                fs=self.fs,
                group_by_qname=self.group_by_qname,
                # group ownership needs the name even when pruned away
                # (same guard as BamSource.read, bam.py); the Arrow
                # batches below still emit only the requested fields
                fields=(
                    frozenset(self.fields | {"qname"})
                    if self.fields is not None and self.group_by_qname
                    else self.fields
                ),
            ),
            self.fields,
        )


class BamDataSource(DataSource):
    """``spark.read.format("bam").load(path)`` → reads DataFrame."""

    @classmethod
    def name(cls) -> str:
        return "bam"

    def schema(self):
        return _pruned_reads_schema(self.options)

    def reader(self, schema) -> BamDataSourceReader:
        return BamDataSourceReader(self.options)


@dataclass
class CramInputPartition(InputPartition):
    path: str
    start: int
    end: int


class CramDataSourceReader(DataSourceReader):
    """Partitions snap to CRAM container boundaries (``.crai`` fast path,
    container-chain scan fallback); each task decodes its containers with
    the pure-Python codec.  Option ``reference`` names the .fai-indexed
    FASTA required for mapped slices."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("cram source requires a path: .load('/path/to.cram')")
        self.reference = options.get("reference")
        self.split_size = int(options.get("splitsize", 1 << 20))
        self.fields = _parse_columns_option(options)
        self.fs = get_fs(self.path)

    def partitions(self):
        from .cram import CramSource
        from .fsio import list_data_files

        src = CramSource()
        parts: list[CramInputPartition] = []
        for f in list_data_files(self.fs, self.path):
            flen = self.fs.size(f)
            chunks = src.plan_splits(f, self.split_size, file_len=flen)
            if not chunks:
                continue
            bounds = [c[0] for c in chunks] + [flen]
            parts.extend(
                CramInputPartition(f, bounds[i], bounds[i + 1])
                for i in range(len(chunks))
            )
        return parts or [CramInputPartition(self.path, 0, 0)]

    def read(self, partition: CramInputPartition):
        from .cram_codec import IndexedFasta, decode_container, read_cram_meta_file

        if partition.start >= partition.end:
            return

        def rows():
            meta, _ = read_cram_meta_file(partition.path)
            with self.fs.open_input(partition.path) as fh:
                fh.seek(partition.start)
                data = fh.read(partition.end - partition.start)
            getter = IndexedFasta(self.reference).get if self.reference else None
            pos = 0
            while pos < len(data):
                rs, pos = decode_container(data, pos, meta, getter, fields=self.fields)
                yield from rs

        yield from _arrow_batches(rows(), self.fields)


class CramDataSource(DataSource):
    """``spark.read.format("cram").option("reference", fasta).load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "cram"

    def schema(self):
        return _pruned_reads_schema(self.options)

    def reader(self, schema) -> CramDataSourceReader:
        return CramDataSourceReader(self.options)


def register_datasources(spark) -> None:
    """Register the custom format names on a SparkSession."""
    spark.dataSource.register(BamDataSource)
    spark.dataSource.register(CramDataSource)
