"""BED interval source — the input format of the bedtools-family operators
(`operators/interval.py`: interval_filter/join, merge/subtract/closest).

BED is 0-based half-open tab-separated text (spec: UCSC FAQ/format1).  The
genomics operators and htsjdk Locatable semantics are 1-based CLOSED, so the
reader converts on ingest: ``start = chromStart + 1``, ``end = chromEnd``
(a BED row ``chr1 0 100`` becomes the closed interval [1, 100]).  Reading
uses Spark's native splittable text scan — BED has no record-boundary
problem (newline-delimited), so a 100 TB BED directory parallelizes for
free and the parse is pure codegen expressions (no Python in the row path).

Track/browser/comment lines are dropped; the optional name/score/strand
columns surface when present (NULL otherwise); gzip BEDs decompress through
the native text reader.

The reference consumes interval lists programmatically
(``HtsjdkReadsTraversalParameters``); BED files are how those lists live on
disk in every real pipeline, so the source makes the operators' inputs
loadable rather than only constructable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class BedSource:
    def read(
        self, spark: SparkSession, path: str, stringency: str = "silent"
    ) -> DataFrame:
        """(contig, start, end, name, score, strand) with 1-based closed
        coordinates; ``name``/``score``/``strand`` NULL when the file has
        fewer than 4/5/6 columns.

        ``stringency`` governs malformed DATA lines (too few columns,
        non-numeric coordinate — which is also what the tail line of a
        mid-record-truncated file looks like): ``silent`` (default,
        historical posture) drops them, ``strict`` fails the job naming
        the bad line — the text-format twin of the binary sources'
        refuse-truncation contract (round-9 sweep), ``lenient`` keeps
        them with NULL mandatory fields."""
        from .sam import apply_stringency

        lines = spark.read.text(path)
        data = lines.filter(
            ~F.col("value").startswith("#")
            & ~F.col("value").startswith("track")
            & ~F.col("value").startswith("browser")
            & (F.length(F.trim(F.col("value"))) > 0)
        )
        c = F.split(F.col("value"), "\t")
        malformed = (
            (F.size(c) < 3)
            | F.try_element_at(c, F.lit(2)).try_cast("long").isNull()
            | F.try_element_at(c, F.lit(3)).try_cast("long").isNull()
        )
        data = apply_stringency(data, malformed, stringency)
        # lenient parsing throughout (try_element_at/try_cast): a malformed
        # line yields NULL mandatory fields, never an ANSI-mode job abort.
        # The '.' placeholder reads back as NULL for the optional columns.
        parsed = data.select(
            F.try_element_at(c, F.lit(1)).alias("contig"),
            (F.try_element_at(c, F.lit(2)).try_cast("long") + 1).alias("start"),
            F.try_element_at(c, F.lit(3)).try_cast("long").alias("end"),
            F.nullif(F.try_element_at(c, F.lit(4)), F.lit(".")).alias("name"),
            F.try_element_at(c, F.lit(5)).try_cast("long").alias("score"),
            F.nullif(F.try_element_at(c, F.lit(6)), F.lit(".")).alias("strand"),
        )
        if stringency.lower() == "lenient":
            return parsed
        return parsed.filter(
            F.col("contig").isNotNull()
            & F.col("start").isNotNull()
            & F.col("end").isNotNull()
        )


def write_bed(df: DataFrame, path: str) -> None:
    """Single-file BED sink for an interval DataFrame with 1-based closed
    (contig, start, end [, name, score, strand]) — converts back to
    0-based half-open and writes parallel text parts merged through the
    shared part-concat machinery (so it lands on any fsio scheme, with the
    scheme's concat fast path when available)."""
    from .merger import commit, text_format

    cols = [
        F.col("contig"),
        (F.col("start") - 1).cast("string"),
        F.col("end").cast("string"),
    ]
    for opt in ("name", "score", "strand"):
        if opt in df.columns:
            # NULL optional fields write the spec placeholder '.': concat_ws
            # SKIPS NULLs, which would shift later columns left (a NULL
            # score putting the strand in the score slot)
            cols.append(F.coalesce(F.col(opt).cast("string"), F.lit(".")))
    line = F.concat_ws("\t", *cols)
    commit(df.select(line.alias("value")), path, text_format())
