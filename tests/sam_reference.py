"""A Spark SQL SAM line parser and alignment span, kept as the reference
the line tasks' ``sam.parse_sam_line`` and the in-task traversal
(``interval.read_keeper``) are checked against (``tests/test_sam.py``).

It parses a frame of raw body lines with native column expressions
(split / try_element_at / try_cast / map_from_entries), so its rows carry
Spark's own semantics for every edge: NULLs past the end of a short line,
``try_cast`` for the numbers, last-wins maps for duplicated tags."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from disq_original_spark.functions import map_from_entries_last_wins
from disq_original_spark.sources.sam import cigar_reference_length


def _null_if_star(c: Column) -> Column:
    return F.when(c == "*", F.lit(None)).otherwise(c)


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


def with_alignment_span(reads: DataFrame) -> DataFrame:
    """Add end_pos (1-based inclusive alignment end; = pos for unmapped/'*'
    cigar) — the overlap axis for interval queries."""
    ref_len = cigar_reference_length(F.col("cigar"))
    end = F.when(
        (F.col("cigar") == "*") | F.col("cigar").isNull() | (ref_len == 0), F.col("pos")
    ).otherwise(F.col("pos") + ref_len - 1)
    return reads.withColumn("end_pos", end)
