r"""SAM text source and sink, Spark-first.

Source: the text line plans VCF reads through (``tribble.line_plan``):
byte-range splits of plain files and directories, one task per true-gzip
file.  Each task drops the '@' header lines, parses every other line into
a reads row (``parse_sam_line``), applies the stringency mode and then the
traversal (``interval.read_keeper``: the interval list plus the
unplaced-unmapped flag), as the reference's ``SamSource`` filters each
parsed record in its partition (`sam/SamSource.java:24-88`,
`TraversalOverlapDetector`).  A read is one ``MapInArrow`` of
``READS_SCHEMA``, the schema BAM and CRAM return, whole-file or region,
plain or gzip.  The Spark SQL parse the rows are checked against is
``tests/sam_reference.py``.

Sink: native reverse expression → ``write.text`` part files → the shared
single-file commit (``merger``: header + parts concat).  Reference parity:
`sam/SamSink.java:23-47`.

Reads schema (SURVEY §1.3): qname flag rname pos mapq cigar rnext pnext tlen
seq qual attributes.  '*' placeholders become NULLs; aux tags become a
map tag → "TYPE:VALUE" preserving order, so write(read(x)) is lossless.
"""

from __future__ import annotations

from collections.abc import Collection

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, MapType, StringType, StructField, StructType

from ..operators.interval import collect_intervals, read_keeper, try_long
from .headers import SamHeader, read_sam_header_text
from .merger import PartFormat, commit, commit_sharded, text_format

#: the reads schema every BAM, CRAM and SAM read returns (SURVEY §1.3)
READS_SCHEMA = StructType(
    [
        StructField("qname", StringType()),
        StructField("flag", IntegerType()),
        StructField("rname", StringType()),
        StructField("pos", LongType()),
        StructField("mapq", IntegerType()),
        StructField("cigar", StringType()),
        StructField("rnext", StringType()),
        StructField("pnext", LongType()),
        StructField("tlen", LongType()),
        StructField("seq", StringType()),
        StructField("qual", StringType()),
        StructField("attributes", MapType(StringType(), StringType())),
    ]
)
READS_COLUMNS = READS_SCHEMA.names


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


def last_wins(entries: list[tuple[str, str]]) -> dict[str, str]:
    """Spark's last-wins map of ``entries`` (``map_from_entries`` after
    ``functions.map_from_entries_last_wins``' dedup): one entry per key,
    holding its last value at the position of its last occurrence."""
    m = dict(entries)
    if len(m) < len(entries):
        m = {}
        for k, v in entries:
            m.pop(k, None)
            m[k] = v
    return m


def try_int(s: str | None) -> int | None:
    """Spark's ``try_cast(s AS int)`` of a string: ``interval.try_long``
    within the int32 range."""
    v = try_long(s)
    return v if v is not None and -(1 << 31) <= v < (1 << 31) else None


def parse_sam_line(line: str, fields: Collection[str] | None = None) -> dict:
    """The reads row of one body line, as a dict whose ``attributes`` map
    keeps its entry order: the line tasks' parser.  Its rows are those of
    the Spark SQL parse of the same line (``try_element_at`` NULLs past
    the end of a short line, ``try_cast`` for the numbers, '*' as NULL
    for ``rname``/``rnext``, last-wins tags; ``tests/sam_reference.py``).
    The scalar fields are always built; the tags are parsed only when
    ``fields`` (None: all) names ``attributes``."""
    f = line.split("\t")
    if len(f) < 11:
        # a missing field parses as NULL, as try_element_at gives it
        f += [None] * (11 - len(f))
    qname, flag, rname, pos, mapq, cigar, rnext, pnext, tlen, seq, qual = f[:11]
    row = {
        "qname": qname,
        "flag": try_int(flag),
        "rname": None if rname == "*" else rname,
        "pos": try_long(pos),
        "mapq": try_int(mapq),
        "cigar": cigar,
        "rnext": None if rnext == "*" else rnext,
        "pnext": try_long(pnext),
        "tlen": try_long(tlen),
        "seq": seq,
        "qual": qual,
    }
    if fields is None or "attributes" in fields:
        row["attributes"] = last_wins([(t[:2], t[3:]) for t in f[11:]])
    return row


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
        columns: list[str] | None = None,
    ) -> DataFrame:
        """``intervals`` (a (contig, start, end) frame, 1-based inclusive)
        returns the reads overlapping any interval, exactly: the frame is
        collected once and each line task drops the reads no interval
        overlaps.  ``include_unplaced`` adds the unplaced-unmapped reads;
        alone, it returns only those.

        ``split_size`` caps the bytes of each task's split; left None, the
        files split as Spark's file scan splits them.  It is a property of
        this read only: the session's confs are left as they are.

        ``stringency`` decides what becomes of a malformed line (fewer
        than 11 fields, or a flag or pos that does not cast), before the
        traversal: ``strict`` raises ``malformed record: <line>``, wherever
        the line lies, ``silent`` drops it, ``lenient`` keeps its row.

        ``columns`` returns exactly those columns, in schema order, and
        the tasks parse the tags only when ``attributes`` is asked for."""
        from .arrow_xfer import pruned_schema, to_dataframe
        from .tribble import line_plan

        if columns is not None:
            validate_columns(columns, READS_COLUMNS, "reads")
        mode = stringency_mode(stringency)
        fields = None if columns is None else frozenset(columns)
        ivs = collect_intervals(intervals) if intervals is not None else None
        keep = read_keeper(ivs, include_unplaced)
        tasks, task_lines = line_plan(spark, path, split_size)

        def task_rows(task):
            for line in task_lines(task):
                if line.startswith("@"):
                    continue
                row = parse_sam_line(line, fields)
                # a NULL qual: fewer than 11 fields
                if row["flag"] is None or row["pos"] is None or row["qual"] is None:
                    if mode == "strict":
                        raise ValueError(f"malformed record: {line}")
                    if mode == "silent":
                        continue
                if keep is None or keep(row):
                    yield row

        return to_dataframe(spark, tasks, task_rows, pruned_schema(READS_SCHEMA, fields))


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
