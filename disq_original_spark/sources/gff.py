"""GFF3 annotation source/sink — gene-model inputs for the interval
operators (bedtools-family ops in ``operators/interval.py`` take any
(contig, start, end) frame; GFF3 is how gene/transcript/exon models live
on disk in every real pipeline, alongside BED for plain intervals).

GFF3 (spec: github.com/The-Sequence-Ontology/Specifications/gff3.md) is
newline-delimited tab-separated text with nine columns — seqid, source,
type, start, end, score, strand, phase, attributes — and 1-based CLOSED
coordinates, already matching the htsjdk-Locatable convention the
genomics operators use, so no coordinate conversion happens on ingest
(unlike BED's 0-based half-open shift in ``bed.py``).

Reading uses Spark's native splittable text scan: no record-boundary
problem, a 100 TB annotation directory parallelizes for free, and the
parse — including the ``;``-separated ``key=value`` attribute map — is
pure codegen expressions (no Python in the row path).  Catalyst prunes
unused columns and pushes filters into the scan as with any native text
read.  Attribute keys and values decode the spec's reserved
percent-escapes (``%25 %09 %0A %0D %3B %3D %26``, either hex case) so a
value written as ``Note=a%3Bb`` reads back as ``a;b``; the sink encodes
the same set, making write→read an identity for any attribute text.
``%2C`` is deliberately NOT decoded (and ``,`` not encoded):
multi-valued attributes (``Parent=t1,t2``) surface as the raw
comma-joined string — split by the consumer when needed — so a literal
escaped comma must stay distinguishable from the separator.

Comment/directive lines (``#``/``##``) are dropped; ``###`` FASTA
sections terminate real files but plain ``##FASTA``-free inputs are the
norm for pipeline use — sequence payload belongs to the FASTA source.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import map_from_entries_last_wins

GFF_COLUMNS = [
    "seqid", "source", "type", "start", "end",
    "score", "strand", "phase", "attributes",
]

# Reserved characters percent-encoded in attribute keys/values (GFF3 spec
# §"Description of the format"): '%' MUST come first on encode / last on
# decode so literal '%3B' survives a round-trip as '%253B'.  ',' is
# excluded on purpose — see the module docstring (multi-value separator
# is part of this source's surface representation).
_ATTR_ESCAPES = [
    ("%", "%25"),
    ("\t", "%09"),
    ("\n", "%0A"),
    ("\r", "%0D"),
    (";", "%3B"),
    ("=", "%3D"),
    ("&", "%26"),
]


def _attr_encode(c: Column) -> Column:
    for raw, code in _ATTR_ESCAPES:
        c = F.replace(c, F.lit(raw), F.lit(code))
    return c


def _attr_decode(c: Column) -> Column:
    # specific codes first (both hex cases — the spec shows uppercase but
    # wild files use either), '%25' strictly last
    for raw, code in reversed(_ATTR_ESCAPES):
        c = F.replace(c, F.lit(code), F.lit(raw))
        if code.lower() != code:
            c = F.replace(c, F.lit(code.lower()), F.lit(raw))
    return c


class GffSource:
    def read(
        self, spark: SparkSession, path: str, stringency: str = "silent"
    ) -> DataFrame:
        """(seqid, source, type, start, end, score, strand, phase,
        attributes map<string,string>) with 1-based closed coordinates;
        '.' placeholders read back as NULL.

        ``stringency`` governs DATA lines with broken mandatory fields
        (missing/non-numeric start/end, absent type — which is also what
        the tail line of a mid-record-truncated file looks like):
        ``silent`` (default, historical posture) drops them, ``strict``
        fails the job naming the bad line — the text-format twin of the
        binary sources' refuse-truncation contract (round-9 sweep),
        ``lenient`` keeps them with NULL mandatory fields."""
        from .sam import apply_stringency

        lines = spark.read.text(path)
        data = lines.filter(
            ~F.col("value").startswith("#")
            & (F.length(F.trim(F.col("value"))) > 0)
        )
        c = F.split(F.col("value"), "\t")
        malformed = (
            F.try_element_at(c, F.lit(1)).isNull()
            | F.try_element_at(c, F.lit(3)).isNull()
            | F.try_element_at(c, F.lit(4)).try_cast("long").isNull()
            | F.try_element_at(c, F.lit(5)).try_cast("long").isNull()
        )
        data = apply_stringency(data, malformed, stringency)
        dot_null = lambda i: F.nullif(F.try_element_at(c, F.lit(i)), F.lit("."))  # noqa: E731
        # attributes: ';'-separated k=v pairs -> map; value = everything
        # after the FIRST '=' (values may contain '='), key-order free
        attrs = F.col("_rawattrs")
        parsed = (
            data.select(
                F.try_element_at(c, F.lit(1)).alias("seqid"),
                dot_null(2).alias("source"),
                F.try_element_at(c, F.lit(3)).alias("type"),
                F.try_element_at(c, F.lit(4)).try_cast("long").alias("start"),
                F.try_element_at(c, F.lit(5)).try_cast("long").alias("end"),
                dot_null(6).try_cast("double").alias("score"),
                dot_null(7).alias("strand"),
                dot_null(8).alias("phase"),
                F.nullif(F.try_element_at(c, F.lit(9)), F.lit(".")).alias("_rawattrs"),
            )
            .withColumn(
                "attributes",
                F.when(
                    attrs.isNull(), F.expr("cast(map() as map<string,string>)")
                ).otherwise(
                    # duplicate tags (out-of-spec but common in the wild)
                    # resolve last-wins instead of aborting the scan —
                    # same lenient posture as the VCF INFO map.  Keys and
                    # values decode the reserved %XX escapes AFTER the
                    # ';'/'=' structural split (escaped separators inside
                    # values therefore never split — that is the point of
                    # the encoding).
                    map_from_entries_last_wins(
                        F.transform(
                            F.filter(
                                F.split(attrs, ";"), lambda a: a != ""
                            ),
                            lambda a: F.struct(
                                _attr_decode(
                                    F.substring_index(a, "=", 1)
                                ).alias("key"),
                                _attr_decode(
                                    F.when(
                                        F.instr(a, "=") > 0,
                                        F.substr(
                                            a, F.instr(a, "=") + F.lit(1)
                                        ),
                                    ).otherwise(F.lit(""))
                                ).alias("value"),
                            ),
                        )
                    )
                ),
            )
            .drop("_rawattrs")
        )
        if stringency.lower() == "lenient":
            return parsed
        return parsed.filter(
            F.col("seqid").isNotNull()
            & F.col("type").isNotNull()
            & F.col("start").isNotNull()
            & F.col("end").isNotNull()
        )


def read_sequence_regions(spark: SparkSession, path: str) -> DataFrame:
    """(contig, contig_end) from the ``##sequence-region seqid start end``
    directives — the declared contig bounds the annotation operators use
    (e.g. the trailing intergenic gap in ``operators/annotate.py``).
    A native text scan filtered to directive lines: O(file) but all
    engine-side, and the result is a dimension (O(contigs) rows)."""
    return (
        spark.read.text(path)
        .filter(F.col("value").startswith("##sequence-region"))
        .select(F.split(F.trim(F.col("value")), r"\s+").alias("t"))
        .select(
            F.col("t")[1].alias("contig"),
            F.col("t")[3].cast("long").alias("contig_end"),
        )
    )


def write_gff(df: DataFrame, path: str, sequence_regions=None) -> None:
    """Single-file GFF3 sink: parallel text parts concatenated behind the
    ``##gff-version 3`` directive through the shared part-concat machinery
    (scheme fast path when available).  ``sequence_regions`` — an iterable
    of (seqid, start, end) — writes ``##sequence-region`` directives into
    the header (a driver-side dimension, O(contigs)): the bounds the
    variant-annotation operator's trailing intergenic gap derives from,
    so model files written here round-trip that capability.  NULL
    optional fields write the spec placeholder '.'; the attribute map
    writes sorted by key so the output is deterministic under Spark's
    unordered map semantics.
    Attribute keys/values percent-encode the spec's reserved characters
    (tab, newline, CR, '%', ';', '=', '&' — see ``_ATTR_ESCAPES``), so a
    value like ``a;b`` round-trips instead of silently reparsing as two
    attributes; NULL attribute values raise (they have no faithful
    on-disk form and array_join would silently drop them)."""
    from .merger import commit, text_format

    # fail-loud on NULL mandatory fields: concat_ws silently SKIPS NULL
    # arguments, which would emit a column-shifted (corrupt) line instead
    def required(name: str):
        c = F.col(name)
        return F.when(
            c.isNull(),
            F.raise_error(
                F.lit(f"write_gff: NULL mandatory field '{name}' — GFF3 "
                      "requires all of seqid/type/start/end")
            ),
        ).otherwise(c.cast("string"))

    score = F.col("score")
    # integral scores print as integers (spec examples), not '100.0'
    score_txt = F.when(
        score.isNull(), F.lit(".")
    ).when(
        score == F.floor(score), score.cast("long").cast("string")
    ).otherwise(score.cast("string"))
    attr_txt = F.when(
        F.col("attributes").isNull() | (F.size("attributes") == 0), F.lit(".")
    ).when(
        # fail-loud on NULL map values: concat(k,'=',NULL) is NULL and
        # array_join silently DROPS null elements — the attribute would
        # vanish from the file with no error (read never produces NULL
        # values, so there is no faithful on-disk representation either)
        F.exists(F.map_values("attributes"), lambda v: v.isNull()),
        F.raise_error(
            F.lit("write_gff: NULL attribute value — GFF3 attribute maps "
                  "must be map<string,string NOT NULL>; use '' or drop "
                  "the key")
        ),
    ).otherwise(
        F.array_join(
            F.transform(
                F.array_sort(F.map_keys("attributes")),
                lambda k: F.concat(
                    _attr_encode(k),
                    F.lit("="),
                    _attr_encode(F.element_at(F.col("attributes"), k)),
                ),
            ),
            ";",
        )
    )
    line = F.concat_ws(
        "\t",
        required("seqid"),
        F.coalesce(F.col("source"), F.lit(".")),
        required("type"),
        required("start"),
        required("end"),
        score_txt,
        F.coalesce(F.col("strand"), F.lit(".")),
        F.coalesce(F.col("phase"), F.lit(".")),
        attr_txt,
    )
    header = "##gff-version 3\n"
    for seqid, rstart, rend in sequence_regions or ():
        header += f"##sequence-region {seqid} {rstart} {rend}\n"
    commit(df.select(line.alias("value")), path, text_format(header.encode()))
