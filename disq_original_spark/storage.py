"""Session-level storage facades: format and cardinality resolved from the
path, mirroring the reference's entry points.

``ReadsStorage`` ≈ `HtsjdkReadsRddStorage` (`HtsjdkReadsRddStorage.java:64-118`):
format sniffed from the extension (`:156-160`), directory inputs resolved via
their first file (`:150-155`), write options inferred from the target path
(`:202-257` — a ``.sharded`` directory suffix selects the multi-file sink,
anything else the single-file sink).  ``VariantsStorage`` ≈
`HtsjdkVariantsRddStorage` (`HtsjdkVariantsRddStorage.java:56-80,123-177`).

Unlike the reference there is no RDD wrapper pair — reads/variants are plain
DataFrames and the header rides along from ``read_header``.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .sources.bam import BamSink, BamSource
from .sources.cram import CramSink, CramSource
from .sources.headers import SamHeader, first_file_in
from .sources.sam import SamSink, SamSource
from .sources.vcf import VcfSink, VcfSource


def _reads_format(path: str) -> str:
    name = Path(first_file_in(path) if Path(path).is_dir() else path).name.lower()
    # suffix match (after stripping .sharded), as the reference does with
    # endsWith (HtsjdkReadsRddStorage.java:156-160) — a substring match would
    # route 'notes.sample.txt' to the SAM reader
    if name.endswith(".sharded"):
        name = name[: -len(".sharded")]
    for ext in (".bam", ".cram", ".sam"):
        if name.endswith(ext):
            return ext[1:]
    raise ValueError(f"cannot infer reads format from {path!r} (.bam/.cram/.sam)")


class ReadsStorage:
    """Facade over the BAM/CRAM/SAM sources and sinks."""

    def __init__(
        self,
        spark: SparkSession,
        reference_path: str | None = None,
        split_size: int | None = None,
        stringency: str = "lenient",
    ):
        self.spark = spark
        self.reference_path = reference_path
        self.split_size = split_size
        self.stringency = stringency

    def read_header(self, path: str) -> SamHeader:
        fmt = _reads_format(path)
        f = str(first_file_in(path)) if Path(path).is_dir() else path
        if fmt == "bam":
            return BamSource().read_header(f)
        if fmt == "sam":
            return SamSource().read_header(f)
        from .sources.cram_codec import read_cram_meta_file

        return SamHeader.parse(read_cram_meta_file(f)[0].header_text)

    def read(
        self,
        path: str,
        intervals: DataFrame | None = None,
        include_unplaced: bool = False,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """``columns`` prunes the DECODE (see BamSource.read /
        CramSource.read / SamSource.read) — a few-column aggregate over a
        100 TB BAM/CRAM skips the per-record seq/qual/tag materialization
        (and for CRAM, whole compressed blocks), and a SAM line task skips
        its tag parse.  Every format returns exactly ``columns``, in schema
        order."""
        fmt = _reads_format(path)
        if fmt == "bam":
            kw = {"split_size": self.split_size} if self.split_size else {}
            return BamSource().read(
                self.spark, path, intervals=intervals,
                include_unplaced=include_unplaced, columns=columns, **kw,
            )
        if fmt == "sam":
            return SamSource().read(
                self.spark, path, intervals=intervals,
                include_unplaced=include_unplaced, split_size=self.split_size,
                stringency=self.stringency, columns=columns,
            )
        kw = {"split_size": self.split_size} if self.split_size else {}
        # CramSource prunes planning via the .crai and applies the overlap
        # test in its tasks — same exact-match contract as the BAM/SAM paths
        return CramSource().read(
            self.spark, path, reference_path=self.reference_path,
            intervals=intervals, include_unplaced=include_unplaced,
            columns=columns, **kw,
        )

    def write(
        self, df: DataFrame, path: str, header: SamHeader, *, write_index: bool = False
    ) -> None:
        """``write_index=True`` creates the format's indexes alongside the
        single-file output at write time (BAM: ``.sbi`` + ``.bai``; CRAM:
        ``.crai``) — the analog of the reference's SbiWriteOption, extended
        to the indexes the reference cannot write (README.md:121-131 there)."""
        sharded = path.endswith(".sharded")
        inner = path[: -len(".sharded")] if sharded else path
        fmt = _reads_format(inner)
        if write_index and fmt not in ("bam", "cram"):
            raise ValueError("write_index is supported for BAM/CRAM output")
        if fmt == "bam":
            sink = BamSink()
            if sharded:
                sink.write_sharded(df, header, path, write_index=write_index)
            else:
                sink.write(df, header, path, write_sbi=write_index, write_bai=write_index)
        elif fmt == "sam":
            sink = SamSink()
            (sink.write_sharded if sharded else sink.write)(df, header, path)
        else:
            sink = CramSink()
            if sharded:
                sink.write_sharded(
                    df, header.text, path,
                    reference_path=self.reference_path, write_index=write_index,
                )
            else:
                sink.write(
                    df, header.text, path,
                    reference_path=self.reference_path, write_index=write_index,
                )


class VariantsStorage:
    """Facade over the VCF source/sink (plain, gzip, BGZF) and BCF."""

    def __init__(
        self,
        spark: SparkSession,
        split_size: int | None = None,
        stringency: str = "lenient",
    ):
        self.spark = spark
        self.split_size = split_size
        self.stringency = stringency

    @staticmethod
    def _is_bcf(path: str) -> bool:
        name = Path(first_file_in(path) if Path(path).is_dir() else path).name.lower()
        if name.endswith(".sharded"):
            name = name[: -len(".sharded")]
        return name.endswith(".bcf")

    def read_header(self, path: str) -> str:
        if self._is_bcf(path):
            from .sources.bcf import BcfSource

            return BcfSource().read_header(
                str(first_file_in(path)) if Path(path).is_dir() else path
            )
        return VcfSource().read_header(path)

    def read(
        self,
        path: str,
        intervals: DataFrame | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """``columns`` prunes the decode: BCF at block granularity (see
        BcfSource.read — site-only scans skip the whole per-sample
        genotype block), VCF line tasks per field (see VcfSource.read —
        site-only reads never split INFO or FORMAT).  The frame carries
        exactly ``columns``, in schema order."""
        kw = {"split_size": self.split_size} if self.split_size else {}
        if self._is_bcf(path):
            from .operators.interval import collect_intervals
            from .sources.bcf import BcfSource

            ivs = collect_intervals(intervals) if intervals is not None else None
            # BcfSource.read applies the overlap test in its tasks — same
            # exact-match contract as VcfSource.read(intervals=...)
            return BcfSource().read(self.spark, path, intervals=ivs, columns=columns, **kw)
        return VcfSource().read(
            self.spark, path, intervals=intervals, stringency=self.stringency, columns=columns, **kw
        )

    def write(
        self, df: DataFrame, path: str, header_text: str, *, write_index: bool = False
    ) -> None:
        """``write_index=True`` creates the per-format index alongside the
        single-file output — tabix ``.tbi`` for BGZF, Tribble ``.idx`` for
        plain text (the same format→index pairing the read side consults)."""
        if self._is_bcf(path):
            from .sources.bcf import BcfSink

            sink = BcfSink()
        else:
            sink = VcfSink()
        if path.endswith(".sharded"):
            sink.write_sharded(df, header_text, path, write_index=write_index)
        else:
            sink.write(df, header_text, path, write_index=write_index)
