r"""SAM text source and sink, Spark-first.

Source: ``spark.read.text`` (splittable, locality-aware, handles dirs and
.gz) → drop '@' header lines → parse columns with native functions only
(split / element_at / map_from_entries — zero Python UDFs, whole plan stays
in Tungsten codegen).  Reference parity: `sam/SamSource.java:24-88`.

Sink: native reverse expression → ``write.text`` part files → the shared
single-file commit (``merger``: header + parts concat).  Reference parity:
`sam/SamSink.java:23-47`.

Reads schema (SURVEY §1.3): qname flag rname pos mapq cigar rnext pnext tlen
seq qual attributes.  '*' placeholders become NULLs; aux tags become a
map tag → "TYPE:VALUE" preserving order, so write(read(x)) is lossless.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import map_from_entries_last_wins
from ..operators.interval import interval_filter
from .headers import SamHeader, read_sam_header_text
from .merger import PartFormat, commit, commit_sharded, text_format

READS_COLUMNS = [
    "qname",
    "flag",
    "rname",
    "pos",
    "mapq",
    "cigar",
    "rnext",
    "pnext",
    "tlen",
    "seq",
    "qual",
    "attributes",
]

FLAG_UNMAPPED = 0x4


def _null_if_star(c: Column) -> Column:
    return F.when(c == "*", F.lit(None)).otherwise(c)


def _sam_malformed(value_col: str = "value") -> Column:
    """A body line that cannot be a SAM record: fewer than 11 tab-separated
    fields, or a non-integer flag/pos."""
    f = F.split(F.col(value_col), "\t")
    return (
        (F.size(f) < 11)
        | F.try_element_at(f, F.lit(2)).try_cast("int").isNull()
        | F.try_element_at(f, F.lit(4)).try_cast("long").isNull()
    )


def apply_stringency(body: DataFrame, malformed: Column, stringency: str) -> DataFrame:
    """Validation-stringency policy on malformed records (reference threads
    htsjdk STRICT/LENIENT/SILENT through all readers,
    `HtsjdkReadsRddStorage.java:66,97-100`): STRICT fails the job, SILENT
    drops the record, LENIENT (default) keeps it with nulled-out fields."""
    s = stringency_mode(stringency)
    if s == "silent":
        return body.filter(~malformed)
    if s == "strict":
        # Enforced through a FILTER, not a projected column: Catalyst's
        # column pruning elides an unused projection, so the previous
        # withColumn(raise_error) form silently skipped validation for
        # any plan that never read `value` downstream — count() being
        # the classic case (round-9 truncation-sweep finding).  A filter
        # predicate determines cardinality and is always evaluated;
        # assert_true returns NULL when the check passes, so isNull()
        # keeps every valid row and the error surfaces per bad row.
        return body.filter(
            F.assert_true(
                ~malformed,
                F.concat(F.lit("malformed record: "), F.col("value")),
            ).isNull()
        )
    return body


def stringency_mode(stringency: str) -> str:
    """``stringency`` lower-cased: strict, lenient or silent; anything else
    is refused."""
    s = stringency.lower()
    if s not in ("strict", "lenient", "silent"):
        raise ValueError(f"unknown stringency {stringency!r} (strict/lenient/silent)")
    return s


def parse_sam_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Native-expression SAM line parser: one ``split`` + projections.

    try_element_at/try_cast (not element_at/cast) for two reasons: Catalyst
    may reorder pushed predicates before the header-line filter (ANSI
    element_at would throw on '@' lines), and malformed records should
    null-out, not fail the job — the analog of htsjdk LENIENT stringency
    (`HtsjdkReadsRddStorage.java:97-100`).
    """
    f = F.split(F.col(value_col), "\t")
    tags = F.slice(f, 12, F.greatest(F.size(f) - 11, F.lit(0)))

    def at(i: int) -> Column:
        return F.try_element_at(f, F.lit(i))

    def at_int(i: int, typ: str) -> Column:
        return F.try_element_at(f, F.lit(i)).try_cast(typ)

    return lines.select(
        at(1).alias("qname"),
        at_int(2, "int").alias("flag"),
        _null_if_star(at(3)).alias("rname"),
        at_int(4, "long").alias("pos"),
        at_int(5, "int").alias("mapq"),
        at(6).alias("cigar"),
        _null_if_star(at(7)).alias("rnext"),
        at_int(8, "long").alias("pnext"),
        at_int(9, "long").alias("tlen"),
        at(10).alias("seq"),
        at(11).alias("qual"),
        map_from_entries_last_wins(
            F.transform(
                tags,
                lambda t: F.struct(
                    F.substring(t, 1, 2).alias("key"),
                    F.substr(t, F.lit(4), F.length(t)).alias("value"),
                ),
            )
        ).alias("attributes"),
    )


def cigar_reference_length(cigar: Column) -> Column:
    """Reference-consumed length of a CIGAR (ops M/D/N/=/X), natively:
    regexp_extract_all for lengths and ops, zip, aggregate."""
    lens = F.regexp_extract_all(cigar, F.lit(r"(\d+)[MIDNSHP=X]"), 1)
    ops = F.regexp_extract_all(cigar, F.lit(r"\d+([MIDNSHP=X])"), 1)
    consumed = F.zip_with(
        lens,
        ops,
        lambda l, o: F.when(o.isin("M", "D", "N", "=", "X"), l.cast("long")).otherwise(0),
    )
    return F.aggregate(consumed, F.lit(0).cast("long"), lambda acc, x: acc + x)


def validate_columns(columns, canonical: list[str], kind: str) -> None:
    """Shared ``columns=`` validation for the pruned sources: unknown
    names and an empty list both fail loud (an empty selection would
    produce a 0-column frame whose count() silently collapses to 0
    through the Arrow transfer plane)."""
    if not columns:
        raise ValueError(
            f"columns must be a non-empty list of {kind} columns "
            f"(got {columns!r}); omit the parameter for the full schema"
        )
    bad = [c for c in columns if c not in canonical]
    if bad:
        raise ValueError(f"unknown {kind} columns {bad}; valid: {canonical}")


def schema_ordered(canonical: list[str], wanted) -> list[str]:
    """Intersection of a canonical column list with ``wanted``, ALWAYS in
    canonical-schema order — never the caller's request order.  Every
    pruned source returns its columns in this order, the order of the
    decoded frame (``arrow_xfer.pruned_schema``), so a pruned read has one
    schema whatever order the caller lists ``columns`` in."""
    wanted = set(wanted)
    return [c for c in canonical if c in wanted]


def project_columns(
    df: DataFrame, canonical: list[str], columns, kind: str
) -> DataFrame:
    """The validate-then-project step of a TEXT-format pruned facade
    whose source decodes the full record anyway (SAM), so pruning is a
    post-parse ``select`` that still lets Catalyst drop the dead parse
    expressions.  Python-decoded sources (BAM/CRAM/BCF, VCF line tasks)
    instead take ``columns=`` natively and skip decode work.
    Keeping the contract in one helper stops the validation/ordering
    pair drifting apart as more text facades grow pruning."""
    validate_columns(columns, canonical, kind)
    return df.select(*schema_ordered(canonical, columns))


def with_alignment_span(reads: DataFrame) -> DataFrame:
    """Add end_pos (1-based inclusive alignment end; = pos for unmapped/'*'
    cigar) — the overlap axis for interval queries."""
    ref_len = cigar_reference_length(F.col("cigar"))
    end = F.when(
        (F.col("cigar") == "*") | F.col("cigar").isNull() | (ref_len == 0), F.col("pos")
    ).otherwise(F.col("pos") + ref_len - 1)
    return reads.withColumn("end_pos", end)


class SamSource:
    """Read SAM files/directories into a reads DataFrame."""

    def read_header(self, path: str) -> SamHeader:
        return SamHeader.parse(read_sam_header_text(path))

    def read(
        self,
        spark: SparkSession,
        path: str,
        intervals: DataFrame | None = None,
        include_unplaced: bool = False,
        split_size: int | None = None,
        stringency: str = "lenient",
    ) -> DataFrame:
        if split_size is not None:
            # splitSize option ≈ spark.sql.files.maxPartitionBytes
            # (reference: FileInputFormat.SPLIT_MAXSIZE, PathSplitSource.java:56-58).
            # NOTE: session-wide, exactly like the reference's job-conf knob —
            # later scans in the same session inherit it unless reset.
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(split_size))
        lines = spark.read.text(path)
        body = lines.filter(~F.col("value").startswith("@"))
        body = apply_stringency(body, _sam_malformed(), stringency)
        reads = parse_sam_lines(body)
        from ..operators.interval import residual_traversal

        return residual_traversal(reads, intervals, include_unplaced)


def to_sam_line(df: DataFrame) -> Column:
    """Native expression rebuilding the SAM line from the reads columns."""
    tag_strs = F.transform(
        F.map_entries(F.col("attributes")),
        lambda e: F.concat(e["key"], F.lit(":"), e["value"]),
    )
    # every field coalesced: concat_ws silently DROPS nulls, so a
    # lenient-kept malformed record would otherwise write a shifted line
    # with the wrong column count
    base = F.concat_ws(
        "\t",
        F.coalesce(F.col("qname"), F.lit("*")),
        F.coalesce(F.col("flag").cast("string"), F.lit("4")),
        F.coalesce(F.col("rname"), F.lit("*")),
        F.coalesce(F.col("pos").cast("string"), F.lit("0")),
        F.coalesce(F.col("mapq").cast("string"), F.lit("0")),
        F.coalesce(F.col("cigar"), F.lit("*")),
        F.coalesce(F.col("rnext"), F.lit("*")),
        F.coalesce(F.col("pnext").cast("string"), F.lit("0")),
        F.coalesce(F.col("tlen").cast("string"), F.lit("0")),
        F.coalesce(F.col("seq"), F.lit("*")),
        F.coalesce(F.col("qual"), F.lit("*")),
    )
    return F.when(F.size(tag_strs) > 0, F.concat(base, F.lit("\t"), F.concat_ws("\t", tag_strs))).otherwise(
        base
    )


class SamSink:
    """Write a reads DataFrame to a single SAM file (write-parallel-then-
    concat, reference `sam/SamSink.java:23-47`) or a sharded directory
    (one complete SAM per partition, `sam/AnySamSinkMultiple.java:31-74`),
    through the shared commit (``merger``)."""

    def write(self, df: DataFrame, header: SamHeader, path: str) -> None:
        commit(df.select(to_sam_line(df).alias("value")), path, _sam_format(header))

    def write_sharded(self, df: DataFrame, header: SamHeader, path: str) -> None:
        commit_sharded(df.select(to_sam_line(df).alias("value")), path, _sam_format(header))


def _sam_format(header: SamHeader) -> PartFormat:
    return text_format(header.text.encode(), ext=".sam")
