"""Genomic-shaped operators declared in relational form (g01–g02).

The reference's core query capability is "records overlapping a list of
genomic intervals" (interval pushdown + residual overlap filter,
`sam/AbstractBinarySamSource.java:96-113`, `TraversalOverlapDetector.java`).
These queries exercise the same semantics on the driver's testdata so the
DuckDB oracle can hash-check them; the genomics sources reuse the same
operators on real SAM/BAM/VCF DataFrames (tests/test_sam.py etc.).

The "contig" is event_type and the position axis is the event timestamp.
Interval bounds are compared as timestamps directly (micros precision in both
engines) — epoch()/unix_timestamp() would round differently across engines.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from ..cache import materialize
from ..tables import load_table, path_bytes
from .registry import query

_INTERVALS = [
    ("purchase", "2024-01-03 00:00:00", "2024-01-05 00:00:00"),
    ("error", "2024-01-10 12:00:00", "2024-01-11 00:00:00"),
    ("purchase", "2024-01-20 00:00:00", "2024-01-21 06:00:00"),
]

_INTERVALS_SQL = ", ".join(
    f"('{c}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for c, s, e in _INTERVALS
)


def _avg_e2_exact(col: F.Column | str) -> F.Column:
    """Order-safe ``round(avg(x), 2)`` for an e2-precision float column
    (p05 integer pattern — SCALE.md 'Float-aggregation order').

    The fixture columns this feeds (VCF QUAL, INFO/MQ, FORMAT/GQ, BCF
    float32 QUAL) all carry at most 2 decimals, so ``round(x*100)``
    recovers each value's e2 integer exactly — robust even to float32
    re-quantization noise, which is orders of magnitude below the 0.005
    rounding radius.  The sum of those integers is addition-order
    independent, and the half-up mean is one exact
    ``floor((2s+n)/(2n))`` on small integers (exact in double below
    2^53), so the witness hash cannot flip with partial-sum order the
    way ``round(avg(double), 2)`` can.  NULLs are excluded by both
    ``sum`` and ``count(col)``, matching ``avg`` semantics.  Oracle
    twin::

        floor((2*sum(CAST(round(x*100) AS BIGINT)) + count(x))
              / (2*count(x))) / 100.0
    """
    c = F.col(col) if isinstance(col, str) else col
    e2 = F.round(c * 100).cast("long")
    s, n = F.sum(e2), F.count(c)
    return F.floor((2 * s + n) / (2 * n)) / 100.0


def _intervals_df(spark: SparkSession) -> DataFrame:
    import datetime as _dt

    schema = StructType(
        [
            StructField("contig", StringType()),
            StructField("istart", TimestampType()),
            StructField("iend", TimestampType()),
        ]
    )
    rows = [
        (
            c,
            _dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S"),
            _dt.datetime.strptime(e, "%Y-%m-%d %H:%M:%S"),
        )
        for c, s, e in _INTERVALS
    ]
    return spark.createDataFrame(rows, schema)


def _overlap_cond() -> F.Column:
    return (
        (F.col("event_type") == F.col("contig"))
        & (F.col("ts") >= F.col("istart"))
        & (F.col("ts") <= F.col("iend"))
    )


@query(
    "g01_interval_filter",
    f"""SELECT e.event_id FROM events e
        WHERE EXISTS (
          SELECT 1 FROM (VALUES {_INTERVALS_SQL}) AS iv(contig, istart, iend)
          WHERE iv.contig = e.event_type AND e.ts BETWEEN iv.istart AND iv.iend)
        ORDER BY e.event_id""",
    doc="Multi-interval overlap filter (HtsjdkReadsTraversalParameters analog). "
    "A small literal interval list compiles to an OR-of-ranges predicate — "
    "pure scan-side filtering, no join at all (the reference compiles "
    "intervals into index queries the same way); interval_filter() handles "
    "the general DataFrame-interval case.",
)
def g01(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    import functools
    import operator

    pred = functools.reduce(
        operator.or_,
        [
            (F.col("event_type") == c)
            & (F.col("ts") >= F.lit(s).cast("timestamp"))
            & (F.col("ts") <= F.lit(t).cast("timestamp"))
            for c, s, t in _INTERVALS
        ],
    )
    return e.filter(pred).select("event_id")


@query(
    "g02_interval_join",
    f"""SELECT strftime(iv.istart, '%Y-%m-%d %H:%M') AS interval_start,
               e.event_type, count(*) AS n
        FROM events e
        JOIN (VALUES {_INTERVALS_SQL}) AS iv(contig, istart, iend)
          ON iv.contig = e.event_type AND e.ts BETWEEN iv.istart AND iv.iend
        GROUP BY iv.istart, e.event_type
        ORDER BY interval_start, e.event_type""",
    doc="Interval join + per-interval aggregation (depth-of-coverage analog).",
)
def g02(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    iv = _intervals_df(spark)
    return (
        e.join(F.broadcast(iv), _overlap_cond())
        .groupBy(
            F.date_format("istart", "yyyy-MM-dd HH:mm").alias("interval_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("interval_start", "event_type")
    )


# ------------------------------------------------------- g03/g04 source-to-SQL
# The engine's actual purpose: genomics files land as DataFrames and the full
# Spark SQL surface applies.  These run on the reference repo's own fixtures
# (read-only), so they are rows-only entries (DuckDB cannot read BAM/VCF);
# byte-level read correctness is proven separately in tests/test_bam.py etc.
_FIXTURES = "/root/reference/src/test/resources"

# Decoded-fixture parquet twins for the DuckDB oracles (VERDICT r4 #4):
# DuckDB cannot read BAM/VCF/BCF/FASTA, so tools/build_oracle_fixtures.py
# decodes each fixture once (through this repo's differentially-tested
# sources, plus an INDEPENDENT Python CIGAR walk for the g13 spans and an
# independent FASTA parser) and commits the rows under fixtures/oracle/.
# The Spark queries keep reading the real binary formats; the oracle SQL
# re-runs the aggregation math over the parquet twin, giving the driver a
# hash row for the operator MATH while decode correctness stays pinned by
# the differential pytest suite.  Repo-relative (not hardcoded) so the
# oracles survive a checkout at any path.
_ORC = str(Path(__file__).resolve().parents[2] / "fixtures" / "oracle")
_BAM1 = f"read_parquet('{_ORC}/bam_1_reads.parquet')"
_BAM1_CONTIGS = f"read_parquet('{_ORC}/bam_1_contigs.parquet')"
_DUPSIG = f"read_parquet('{_ORC}/bam_1_dupsig.parquet')"
_SHARDED = f"read_parquet('{_ORC}/bam_sharded_reads.parquet')"
_SPANS = f"read_parquet('{_ORC}/bam_sharded_spans.parquet')"
_VCF_HISEQ = f"read_parquet('{_ORC}/vcf_hiseq.parquet')"
_VCF_HISEQ_GT = f"read_parquet('{_ORC}/vcf_hiseq_gt.parquet')"
_VCF_TEST = f"read_parquet('{_ORC}/vcf_test.parquet')"
_FASTA_SEQS = f"read_parquet('{_ORC}/fasta_valid_seqs.parquet')"


@query(
    "g03_bam_contig_stats",
    f"""SELECT coalesce(rname, '*') AS contig,
               count(*) AS n_reads,
               round(avg(mapq), 2) AS avg_mapq,
               round(avg(CASE WHEN (flag & 4) = 0 THEN 1.0 ELSE 0.0 END), 4)
                 AS mapped_frac
        FROM {_BAM1}
        GROUP BY 1 ORDER BY 1""",
    doc="SQL over a real BAM read: per-contig read count, mean mapq, mapped "
    "fraction (flag bit 0x4), computed by Catalyst over the splittable BAM "
    "source (`bam/BamSource.java:43-188` analog).  At 100 TB this is a scan "
    "with record-aligned chunking + one partial-agg shuffle of tiny "
    "(contig, partial-sums) rows.  Oracle: SQL over the decoded-fixture "
    "parquet twin (fixtures/oracle/, see tools/build_oracle_fixtures.py).",
)
def g03(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.bam import BamSource

    reads = BamSource().read(
        spark, f"{_FIXTURES}/1.bam", split_size=128 * 1024,
        columns=["flag", "rname", "mapq"],  # decode-level pruning
    )
    return (
        reads.groupBy(F.coalesce("rname", F.lit("*")).alias("contig"))
        .agg(
            F.count(F.lit(1)).alias("n_reads"),
            F.round(F.avg("mapq"), 2).alias("avg_mapq"),
            F.round(
                F.avg((F.col("flag").bitwiseAND(4) == 0).cast("double")), 4
            ).alias("mapped_frac"),
        )
        .orderBy("contig")
    )


@query(
    "g04_vcf_variant_stats",
    f"""SELECT contig,
               count(*) AS n_variants,
               floor((2 * sum(CAST(round(qual * 100) AS BIGINT)) + count(qual))
                     / (2 * count(qual))) / 100.0 AS avg_qual,
               CAST(sum(CASE WHEN length(ref) = 1 AND len(alts) = 1
                              AND length(alts[1]) = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_snv,
               CAST(sum(len(filters)) AS BIGINT) AS n_filter_flags
        FROM {_VCF_HISEQ}
        GROUP BY contig ORDER BY contig""",
    doc="SQL over a real BGZF VCF read: per-contig variant count, mean qual, "
    "transition count via array ops on alts — the splittable BGZF text "
    "source (`vcf/VcfSource.java:45-186` analog) feeding native SQL.  "
    "Oracle: SQL over the decoded-fixture parquet twin (fixtures/oracle/).",
)
def g04(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.vcf import VcfSource

    v = VcfSource().read(spark, f"{_FIXTURES}/HiSeq.10000.vcf.bgz", split_size=128 * 1024)
    snv = (F.length("ref") == 1) & (F.size("alts") == 1) & (
        F.length(F.element_at("alts", 1)) == 1
    )
    return (
        v.groupBy("contig")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            _avg_e2_exact("qual").alias("avg_qual"),
            F.sum(snv.cast("long")).alias("n_snv"),
            F.sum(F.size("filters")).alias("n_filter_flags"),
        )
        .orderBy("contig")
    )


# ------------------------------------------------------- g05 binned range join
_G05_SPAN_US = 600_000_000  # each event spans [ts, ts + 10 min]
_G05_BIN_US = 3_600_000_000  # 1-hour genomic-bin analog


@query(
    "g05_binned_interval_join",
    f"""WITH iv AS (SELECT event_id, event_type,
                           epoch_us(ts) AS s,
                           epoch_us(ts) + {_G05_SPAN_US} AS e
                    FROM events)
        SELECT a.event_type, count(*) AS n_overlaps
        FROM iv a JOIN iv b
          ON a.event_type = b.event_type AND a.event_id < b.event_id
         AND a.s <= b.e AND a.e >= b.s
        GROUP BY a.event_type ORDER BY a.event_type""",
    doc="Big-by-big interval overlap join via fixed-size binning "
    "(operators/interval.py::interval_join with bin_size) — the custom "
    "strategy SURVEY §4 reserves for genomic joins too large to broadcast.  "
    "Each interval is replicated to the bins it touches (here ≤2), the join "
    "becomes an EQUI-join on (contig, bin) — shuffled hash/merge join, "
    "never a BroadcastNestedLoopJoin — and each overlapping pair is counted "
    "exactly once in the first bin both intervals share.  The oracle is the "
    "naive quadratic range join, feasible only at test scale.",
)
def g05(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.interval import interval_join

    e = load_table(spark, sf, "events")
    iv = e.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_G05_SPAN_US)).alias("e"),
    )
    joined = interval_join(
        iv,
        iv.select(
            F.col("event_id").alias("b_event_id"),
            F.col("event_type").alias("b_event_type"),
            F.col("s").alias("b_s"),
            F.col("e").alias("b_e"),
        ),
        on_contig=("event_type", "b_event_type"),
        left_span=("s", "e"),
        right_span=("b_s", "b_e"),
        bin_size=_G05_BIN_US,
    )
    return (
        joined.filter(F.col("event_id") < F.col("b_event_id"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
        .orderBy("event_type")
    )


# ------------------------------------------------------- g06 coverage windows
_G06_WIN = 1000  # 1 kb coverage windows


@query(
    "g06_coverage_windows",
    f"""WITH mapped AS (
          SELECT rname, pos, mapq,
                 CAST(greatest(pos, pos + coalesce(list_sum(list_transform(
                     regexp_extract_all(cigar, '(\\d+)[MDN=X]', 1),
                     rx -> CAST(rx AS BIGINT))), 0) - 1) AS BIGINT) AS end_pos
          FROM {_SHARDED}
          WHERE (flag & 4) = 0 AND rname IS NOT NULL
        ), wins AS (
          SELECT rname, mapq, w
          FROM mapped, unnest(generate_series(pos // {_G06_WIN},
                                              end_pos // {_G06_WIN})) AS t(w)
        )
        SELECT rname, w * {_G06_WIN} AS win_start,
               count(*) AS depth, round(avg(mapq), 2) AS avg_mapq
        FROM wins GROUP BY rname, w ORDER BY rname, win_start""",
    doc="Windowed depth of coverage over the real sharded-BAM fixture (the "
    "coverage-track computation every genomics pipeline runs).  Alignment "
    "END comes from the CIGAR string inside native SQL — "
    "regexp_extract_all over reference-consuming ops (M/D/N/=/X) summed "
    "with aggregate() — then each read explodes to the 1 kb windows it "
    "spans and depth is a partial-agg count per (contig, window).  Zero "
    "Python in the row path; at 100 TB the shuffle carries only "
    "(window, partial-count) rows.  Oracle: the same window arithmetic in "
    "DuckDB SQL over the decoded-fixture parquet twin (fixtures/oracle/); "
    "an exhaustive brute-force oracle also runs in tests/test_genomic.py.",
)
def g06(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.bam import BamSource

    reads = BamSource().read(
        spark,
        f"{_FIXTURES}/HiSeq.1mb.1RG.2k_lines.alternate.recalibrated.DIQ.sharded.bam",
        columns=["flag", "rname", "pos", "mapq", "cigar"],
    )
    from ..sources.sam import cigar_reference_length

    ref_len = cigar_reference_length(F.col("cigar"))
    mapped = reads.filter(
        (F.col("flag").bitwiseAND(4) == 0) & F.col("rname").isNotNull()
    ).select(
        "rname",
        "pos",
        "mapq",
        # clamp: a mapped read with ref_len 0 (cigar '*' or no M/D/N/=/X ops)
        # spans its own position, not pos-1 — otherwise F.sequence would run
        # DESCENDING and count the read in the window before its start
        F.greatest(F.col("pos"), F.col("pos") + ref_len - 1).alias("end_pos"),
    )
    win = F.explode(
        F.sequence(
            (F.col("pos") / _G06_WIN).cast("long"),
            (F.col("end_pos") / _G06_WIN).cast("long"),
        )
    )
    return (
        mapped.select("rname", "mapq", win.alias("win"))
        .groupBy("rname", "win")
        .agg(
            F.count(F.lit(1)).alias("depth"),
            F.round(F.avg("mapq"), 2).alias("avg_mapq"),
        )
        .select(
            "rname",
            (F.col("win") * _G06_WIN).alias("win_start"),
            "depth",
            "avg_mapq",
        )
        .orderBy("rname", "win_start")
    )


# ------------------------------------------------------- g07 typed INFO/genotypes
@query(
    "g07_typed_variant_stats",
    f"""WITH site AS (
          SELECT contig, count(*) AS n_sites,
                 round(avg(info_dp), 2) AS avg_depth,
                 floor((2 * sum(CAST(round(info_mq * 100) AS BIGINT)) + count(info_mq))
                     / (2 * count(info_mq))) / 100.0 AS avg_mq,
                 round(avg(CASE WHEN info_db THEN 1.0 ELSE 0.0 END), 4)
                   AS dbsnp_rate
          FROM {_VCF_HISEQ} GROUP BY contig
        ), gq AS (
          SELECT contig, floor((2 * sum(CAST(round(q * 100) AS BIGINT)) + count(q))
                     / (2 * count(q))) / 100.0 AS avg_gq
          FROM (SELECT contig, unnest(gq_list) AS q FROM {_VCF_HISEQ})
          GROUP BY contig
        )
        SELECT s.contig, s.n_sites, s.avg_depth, s.avg_mq, s.dbsnp_rate,
               gq.avg_gq
        FROM site s JOIN gq USING (contig) ORDER BY s.contig""",
    doc="Typed-INFO analytics over the real BGZF VCF: operators/variants.py "
    "promotes header-declared INFO fields (Integer/Float/Flag, scalar or "
    "array) to native typed columns with try_cast lenient semantics — the "
    "relational equivalent of htsjdk's typed VariantContext — then standard "
    "SQL aggregates: per-contig mean depth, mean mapping quality, dbSNP "
    "membership rate, and mean per-sample genotype quality from the "
    "exploded typed genotypes.  Zero Python in the row path.  Oracle: SQL "
    "over the decoded-fixture parquet twin (fixtures/oracle/), which "
    "freezes the typed promotion; the aggregation math is re-run by DuckDB.",
)
def g07(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.variants import explode_genotypes, promote_info
    from ..sources.headers import read_vcf_header_text
    from ..sources.vcf import VcfSource

    path = f"{_FIXTURES}/HiSeq.10000.vcf.bgz"
    hdr = read_vcf_header_text(path)
    # materialized once: the site aggregate and the genotype explosion both
    # consume the decoded variants — without a materialization point the
    # Python VCF decode pass runs twice (one MapInPandas per branch), and a
    # LAZY persist still runs it twice at drain because the join's
    # broadcast-prep future races the other branch on the cold cache (the
    # m04/g09 defect, r13 session 6)
    v = materialize(VcfSource().read(spark, path), path_bytes(path))
    info = promote_info(v, hdr)
    site = info.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n_sites"),
        F.round(F.avg("info_DP"), 2).alias("avg_depth"),
        _avg_e2_exact("info_MQ").alias("avg_mq"),
        F.round(F.avg(F.col("info_DB").cast("int")), 4).alias("dbsnp_rate"),
    )
    gq = (
        explode_genotypes(v, hdr)
        .groupBy("contig")
        .agg(_avg_e2_exact("fmt_GQ").alias("avg_gq"))
    )
    return site.join(gq, "contig").orderBy("contig")


# --------------------------------------------- g08 skewed binned interval join
_G08_SPAN_US = 30_000_000  # each event spans [ts, ts + 30 s]
_G08_BIN_US = 300_000_000  # 5-minute bins
_G08_SALT = 8


@query(
    "g08_skewed_interval_join",
    f"""WITH iv AS (SELECT event_id,
                           CASE WHEN event_id % 20 < 19 THEN 'hot'
                                ELSE event_type END AS k,
                           epoch_us(ts) AS s,
                           epoch_us(ts) + {_G08_SPAN_US} AS e
                    FROM events)
        SELECT a.k, count(*) AS n_overlaps
        FROM iv a JOIN iv b
          ON a.k = b.k AND a.event_id < b.event_id
         AND a.s <= b.e AND a.e >= b.s
        GROUP BY a.k ORDER BY a.k""",
    doc="g05's binned interval join under deliberate key skew: 95% of rows "
    "share ONE join key ('hot'), the centromere-pileup shape that melts a "
    "single reducer at 100 TB.  The salted form of operators/interval.py::"
    "interval_join spreads the hot (key, bin) cell over 8 reducers — left "
    "rows take a deterministic all-columns-hash salt (retry-safe, and "
    "per-row spread even when the pileup shares positions), the right "
    "side replicates to every salt — and each pair still joins exactly once.  The oracle is the "
    "naive quadratic join, feasible only at test scale.",
)
def g08(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.interval import interval_join

    e = load_table(spark, sf, "events")
    iv = e.select(
        "event_id",
        F.when(F.col("event_id") % 20 < 19, "hot")
        .otherwise(F.col("event_type"))
        .alias("k"),
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_G08_SPAN_US)).alias("e"),
    )
    joined = interval_join(
        iv,
        iv.select(
            F.col("event_id").alias("b_event_id"),
            F.col("k").alias("b_k"),
            F.col("s").alias("b_s"),
            F.col("e").alias("b_e"),
        ),
        on_contig=("k", "b_k"),
        left_span=("s", "e"),
        right_span=("b_s", "b_e"),
        bin_size=_G08_BIN_US,
        salt=_G08_SALT,
    )
    return (
        joined.filter(F.col("event_id") < F.col("b_event_id"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
        .orderBy("k")
    )


# --------------------------------------------------- g09 duplicate marking
@query(
    "g09_mark_duplicates",
    f"""WITH sig AS (
          SELECT qname, rname, upos, score, lib,
                 flag & 192 AS r12,
                 CASE WHEN (flag & 16) != 0 THEN 1 ELSE 0 END AS strand,
                 ((flag & 4) = 0 AND (flag & 256) = 0 AND (flag & 2048) = 0
                  AND rname IS NOT NULL) AS mapped_primary,
                 ((flag & 4) = 0 AND (flag & 256) = 0 AND (flag & 2048) = 0
                  AND rname IS NOT NULL AND (flag & 1) != 0
                  AND (flag & 8) = 0) AS pair_end,
                 ((flag & 4) = 0 AND (flag & 256) = 0 AND (flag & 2048) = 0
                  AND rname IS NOT NULL
                  AND ((flag & 1) = 0 OR (flag & 8) != 0)) AS frag
          FROM {_DUPSIG}
        ), pairs AS (
          SELECT qname, lib,
                 array_to_string(list_sort(
                     list(rname || ':' || upos || ':' || strand)), '|')
                   AS ends_key,
                 sum(score) AS pscore
          FROM sig WHERE pair_end GROUP BY qname, lib
        ), ranked AS (
          SELECT qname, row_number() OVER (
                   PARTITION BY lib, ends_key
                   ORDER BY pscore DESC, qname) AS rn
          FROM pairs
        ), dup_pairs AS (
          SELECT qname FROM ranked WHERE rn > 1
        ), pair_end_sigs AS (
          SELECT DISTINCT lib, rname, upos, strand FROM sig WHERE pair_end
        ), frags AS (
          SELECT s.qname, s.r12, p.lib IS NOT NULL AS has_pair,
                 row_number() OVER (
                   PARTITION BY s.lib, s.rname, s.upos, s.strand
                   ORDER BY s.score DESC, s.qname, s.r12) AS rn
          FROM sig s
          LEFT JOIN pair_end_sigs p
            ON p.lib = s.lib AND p.rname = s.rname
           AND p.upos = s.upos AND p.strand = s.strand
          WHERE s.frag
        ), dup_frags AS (
          SELECT qname, r12 FROM frags WHERE rn > 1 OR has_pair
        ), marked AS (
          SELECT s.rname, s.mapped_primary AND (
                   (s.pair_end AND s.qname IN (SELECT qname FROM dup_pairs))
                   OR (s.frag AND EXISTS (
                         SELECT 1 FROM dup_frags d
                         WHERE d.qname = s.qname AND d.r12 = s.r12))
                 ) AS is_dup
          FROM sig s
        )
        SELECT coalesce(rname, '*') AS contig,
               count(*) AS n_reads,
               CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
               round(avg(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END), 4) AS dup_frac
        FROM marked GROUP BY 1 ORDER BY 1""",
    doc="Distributed MarkDuplicates over the real BAM fixture — the flagship "
    "workload the reference enables (GATK MarkDuplicatesSpark runs through "
    "disq readers/writers; `README.md:16`).  operators/dupmark.py computes "
    "Picard-core pair-end duplicate keys (library, contig, unclipped 5' "
    "pos, strand) and best-score survivorship entirely in Catalyst "
    "expressions; slim projections travel through the two decision "
    "shuffles and the full rows shuffle exactly once in the mark join.  "
    "Oracle: the per-read signatures (unclipped 5' pos, score, library) "
    "come from an INDEPENDENT Python implementation frozen to parquet "
    "(fixtures/oracle/bam_1_dupsig.parquet) and DuckDB re-runs the whole "
    "pair/fragment grouping, ranking and marking decision in SQL; the "
    "brute-force spec oracle and a Picard-flag agreement bound also run "
    "in tests/test_dupmark.py.",
)
def g09(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dupmark import duplicate_flags
    from ..sources.bam import BamSource
    from ..sources.headers import read_bam_header

    path = f"{_FIXTURES}/1.bam"
    header, _refs, _fv = read_bam_header(path)
    # dupmark's decision columns only — seq (the bulk) is never decoded
    reads = BamSource().read(
        spark, path, split_size=256 * 1024,
        columns=["qname", "flag", "rname", "pos", "cigar", "qual", "attributes"],
    )
    # duplicate_flags, not mark_duplicates: this query only aggregates the
    # verdicts, so the mark join runs over the slim signature cache and the
    # BAM is Python-decoded exactly ONCE (r13; the full mark_duplicates
    # contract re-scans the source to re-attach columns never read here).
    # source_bytes drives the signature frame's materialization mechanism
    # (persist above the gate, lazy checkpoint below — cache.materialize)
    marked = duplicate_flags(reads, header, source_bytes=path_bytes(path))
    return (
        marked.groupBy(F.coalesce("rname", F.lit("*")).alias("contig"))
        .agg(
            F.count(F.lit(1)).alias("n_reads"),
            F.sum(F.col("is_duplicate").cast("long")).alias("n_dups"),
            F.round(F.avg(F.col("is_duplicate").cast("double")), 4).alias("dup_frac"),
        )
        .orderBy("contig")
    )


# ------------------------------------------------------------ g10 flagstat
@query(
    "g10_flagstat",
    f"""SELECT count(*) AS total,
               CAST(sum(CASE WHEN (flag & 256) != 0 THEN 1 ELSE 0 END) AS BIGINT) AS secondary,
               CAST(sum(CASE WHEN (flag & 2048) != 0 THEN 1 ELSE 0 END) AS BIGINT) AS supplementary,
               CAST(sum(CASE WHEN (flag & 1024) != 0 THEN 1 ELSE 0 END) AS BIGINT) AS duplicates,
               CAST(sum(CASE WHEN (flag & 4) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS mapped,
               CAST(sum(CASE WHEN (flag & 1) != 0 THEN 1 ELSE 0 END) AS BIGINT) AS paired,
               CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 64) != 0 THEN 1 ELSE 0 END) AS BIGINT) AS read1,
               CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 128) != 0 THEN 1 ELSE 0 END) AS BIGINT) AS read2,
               CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 2) != 0 AND (flag & 4) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS properly_paired,
               CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 4) = 0 AND (flag & 8) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS both_mapped,
               CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 4) = 0 AND (flag & 8) != 0 THEN 1 ELSE 0 END) AS BIGINT) AS singletons,
               CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 4) = 0 AND (flag & 8) = 0
                              AND rnext IS NOT NULL AND rnext != '='
                              AND rnext != rname THEN 1 ELSE 0 END) AS BIGINT) AS mate_diff_chr,
               CAST(sum(CASE WHEN (flag & 1) != 0 AND (flag & 4) = 0 AND (flag & 8) = 0
                              AND rnext IS NOT NULL AND rnext != '='
                              AND rnext != rname AND mapq >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS mate_diff_chr_mapq5
        FROM {_BAM1}""",
    doc="samtools-flagstat equivalent: one partial-agg pass of conditional "
    "sums over the flag bits of the real BAM fixture — 12 counters in a "
    "single scan, no shuffle beyond the final 1-row combine.  Oracle: the "
    "same conditional sums in DuckDB over the decoded-fixture parquet twin "
    "(fixtures/oracle/); tests/test_dupmark.py also recomputes every "
    "counter from the decoded rows in Python and compares exactly.",
)
def g10(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.bam import BamSource

    reads = BamSource().read(
        spark, f"{_FIXTURES}/1.bam", split_size=256 * 1024,
        columns=["flag", "rname", "rnext", "mapq"],
    )
    flag = F.col("flag")

    def has(bit: int) -> F.Column:
        return flag.bitwiseAND(bit) != 0

    def c(cond) -> F.Column:
        return F.sum(cond.cast("long"))

    mate_diff = (
        has(1)
        & ~has(4)
        & ~has(8)
        & F.col("rnext").isNotNull()
        & (F.col("rnext") != "=")
        & (F.col("rnext") != F.col("rname"))
    )
    return reads.agg(
        F.count(F.lit(1)).alias("total"),
        c(has(256)).alias("secondary"),
        c(has(2048)).alias("supplementary"),
        c(has(1024)).alias("duplicates"),
        c(~has(4)).alias("mapped"),
        c(has(1)).alias("paired"),
        c(has(1) & has(64)).alias("read1"),
        c(has(1) & has(128)).alias("read2"),
        c(has(1) & has(2) & ~has(4)).alias("properly_paired"),
        c(has(1) & ~has(4) & ~has(8)).alias("both_mapped"),
        c(has(1) & ~has(4) & has(8)).alias("singletons"),
        c(mate_diff).alias("mate_diff_chr"),
        c(mate_diff & (F.col("mapq") >= 5)).alias("mate_diff_chr_mapq5"),
    )


# ----------------------------------------------------- g11 per-cycle quality QC
@query(
    "g11_cycle_quality",
    f"""WITH cells AS (
          SELECT ci AS cycle,
                 substr(seq, ci, 1) AS b,
                 ascii(substr(qual, ci, 1)) - 33 AS phred
          FROM {_BAM1},
               unnest(generate_series(1, greatest(length(seq), length(qual))))
                 AS t(ci)
          WHERE (flag & 2304) = 0 AND qual != '*'
        )
        SELECT cycle, count(*) AS n,
               round(avg(phred), 2) AS avg_qual,
               round(avg(CASE WHEN b = 'A' THEN 1.0 ELSE 0.0 END), 4) AS frac_a,
               round(avg(CASE WHEN b = 'C' THEN 1.0 ELSE 0.0 END), 4) AS frac_c,
               round(avg(CASE WHEN b = 'G' THEN 1.0 ELSE 0.0 END), 4) AS frac_g,
               round(avg(CASE WHEN b = 'T' THEN 1.0 ELSE 0.0 END), 4) AS frac_t
        FROM cells GROUP BY cycle ORDER BY cycle""",
    doc="FastQC-style per-cycle QC over the real BAM: mean base quality and "
    "base composition at every read position (machine-cycle), the standard "
    "sequencing-QC track.  arrays_zip(split(seq), split(qual)) + posexplode "
    "builds (cycle, base, phred) rows inside codegen — no Python, no "
    "per-cycle substring rescans — and the aggregate is a partial-agg hash "
    "shuffle carrying only (cycle, partial-sums): at 100 TB the shuffle "
    "volume is read-length × partitions, independent of read count.  "
    "Oracle: DuckDB re-derives every cycle cell by position over the "
    "decoded-fixture parquet twin; tests/test_qc.py also recomputes "
    "every cycle's stats from the decoded rows in Python.",
)
def g11(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.bam import BamSource

    reads = BamSource().read(
        spark, f"{_FIXTURES}/1.bam", split_size=256 * 1024,
        columns=["flag", "seq", "qual"],
    )
    eligible = reads.filter(
        (F.col("flag").bitwiseAND(256 + 2048) == 0) & (F.col("qual") != "*")
    )
    zipped = F.arrays_zip(
        F.split(F.col("seq"), "").alias("b"), F.split(F.col("qual"), "").alias("q")
    )
    cells = eligible.select(
        F.posexplode(zipped).alias("cycle0", "bq")
    ).select(
        (F.col("cycle0") + 1).alias("cycle"),
        F.col("bq.b").alias("b"),
        (F.ascii("bq.q") - 33).alias("phred"),
    )
    return (
        cells.groupBy("cycle")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("phred"), 2).alias("avg_qual"),
            F.round(F.avg((F.col("b") == "A").cast("double")), 4).alias("frac_a"),
            F.round(F.avg((F.col("b") == "C").cast("double")), 4).alias("frac_c"),
            F.round(F.avg((F.col("b") == "G").cast("double")), 4).alias("frac_g"),
            F.round(F.avg((F.col("b") == "T").cast("double")), 4).alias("frac_t"),
        )
        .orderBy("cycle")
    )


# ------------------------------------------------------------- g12 Ts/Tv ratio
@query(
    "g12_tstv",
    f"""WITH snv AS (
          SELECT upper(ref) || upper(alts[1]) IN ('AG','GA','CT','TC') AS is_ts
          FROM {_VCF_HISEQ}
          WHERE length(ref) = 1 AND len(alts) = 1 AND length(alts[1]) = 1
        )
        SELECT count(*) AS n_snv,
               CAST(sum(CASE WHEN is_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
               CAST(sum(CASE WHEN is_ts THEN 0 ELSE 1 END) AS BIGINT) AS n_tv,
               round(sum(CASE WHEN is_ts THEN 1 ELSE 0 END) /
                     CAST(sum(CASE WHEN is_ts THEN 0 ELSE 1 END) AS DOUBLE),
                     4) AS tstv
        FROM snv""",
    doc="Transition/transversion ratio over the real BGZF VCF — the "
    "first-line variant-calling QC metric (a human callset expects ~2.0-2.1 "
    "genome-wide).  Biallelic SNVs classify as transition (A<->G, C<->T) "
    "with one map-side expression; the result is a single partial-agg "
    "combine.  Oracle: the same classification in DuckDB over the decoded-"
    "fixture parquet twin; tests/test_qc.py recomputes the counts in Python.",
)
def g12(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.vcf import VcfSource

    v = VcfSource().read(spark, f"{_FIXTURES}/HiSeq.10000.vcf.bgz", split_size=256 * 1024)
    snv = (
        (F.length("ref") == 1)
        & (F.size("alts") == 1)
        & (F.length(F.element_at("alts", 1)) == 1)
    )
    pair = F.concat(F.upper("ref"), F.upper(F.element_at("alts", 1)))
    is_ts = pair.isin("AG", "GA", "CT", "TC")
    return v.filter(snv).agg(
        F.count(F.lit(1)).alias("n_snv"),
        F.sum(is_ts.cast("long")).alias("n_ts"),
        F.sum((~is_ts).cast("long")).alias("n_tv"),
        F.round(
            F.sum(is_ts.cast("long")) / F.sum((~is_ts).cast("long")), 4
        ).alias("tstv"),
    )


# ---------------------------------------------------------- g13 region pileup
_G13_REGION = ("chr1", 10_080_000, 10_085_000)  # 5 kb window in the read pile


@query(
    "g13_region_depth",
    f"""SELECT p AS position, count(*) AS depth
        FROM {_SPANS},
             unnest(generate_series(greatest(s, {_G13_REGION[1]}),
                                    least(e, {_G13_REGION[2]}))) AS t(p)
        WHERE rname = '{_G13_REGION[0]}'
          AND s <= {_G13_REGION[2]} AND e >= {_G13_REGION[1]}
        GROUP BY p ORDER BY p""",
    doc="samtools-depth equivalent: per-position aligned-base depth over a "
    "5 kb region of the sharded BAM.  The read scan itself is interval-"
    "pruned (.bai byte ranges feed the split planner, so only chunks "
    "overlapping the region are read at all), then each read's CIGAR is "
    "walked IN one codegen fold — aligned segments (M/=/X consume ref+query; "
    "D/N skip ref, matching samtools' exclusion of deletion gaps from "
    "depth) accumulate into an array of [start,end] spans — and each span "
    "explodes to its clamped positions for a partial-agg count.  Zero "
    "Python; at 100 TB the shuffle carries (position, partial-count) rows "
    "bounded by region size × partitions.  Oracle: DuckDB counts positions "
    "from an INDEPENDENT Python CIGAR walk's span table (fixtures/oracle/"
    "bam_sharded_spans.parquet — cross-implemented, not twinned); tests/"
    "test_qc.py also walks every CIGAR in Python and compares all depths.",
)
def g13(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.bam import BamSource

    contig, rs, re_ = _G13_REGION
    iv = spark.createDataFrame([(contig, rs, re_)], "contig string, start long, end long")
    reads = BamSource().read(
        spark,
        f"{_FIXTURES}/HiSeq.1mb.1RG.2k_lines.alternate.recalibrated.DIQ.sharded.bam",
        intervals=iv,
        columns=["flag", "rname", "pos", "cigar"],
    )
    # One codegen fold builds the aligned spans (M/=/X emit, D/N advance
    # silently, I/S/H/P query-only) — shared with g27's whole-file
    # coverage walk
    from ..operators.coverage import aligned_spans_expr

    walked = aligned_spans_expr(F.col("pos"))
    mapped = reads.filter(
        (F.col("flag").bitwiseAND(4 + 256 + 2048) == 0)
        & (F.col("rname") == contig)
    )
    spans = mapped.select(F.explode(walked).alias("sp")).filter(
        (F.col("sp.s") <= re_) & (F.col("sp.e") >= rs)
    )
    positions = spans.select(
        F.explode(
            F.sequence(F.greatest(F.col("sp.s"), F.lit(rs)), F.least(F.col("sp.e"), F.lit(re_)))
        ).alias("position")
    )
    return (
        positions.groupBy("position")
        .agg(F.count(F.lit(1)).alias("depth"))
        .orderBy("position")
    )


# ------------------------------------------------ g14 multi-allelic split
@query(
    "g14_multiallelic_split",
    f"""WITH s AS (
          SELECT contig, pos, ref, alts, af, gts,
                 len(alts) AS n_orig_alts, ai AS allele_idx,
                 flatten(list_transform(gts,
                     gv -> regexp_split_to_array(gv, '[/|]'))) AS al
          FROM {_VCF_TEST},
               unnest(generate_series(1, greatest(len(alts), 1))) AS u(ai)
        )
        SELECT contig, pos, ref, alts[allele_idx] AS alt, allele_idx,
               CAST(n_orig_alts AS INTEGER) AS n_orig_alts,
               TRY_CAST(str_split(af, ',')[allele_idx] AS DOUBLE) AS af,
               CAST(len(list_filter(al, av -> av = CAST(allele_idx AS VARCHAR)))
                    AS BIGINT) AS ac,
               CAST(len(al) - len(list_filter(al, av -> av = '.'))
                    AS BIGINT) AS an
        FROM s ORDER BY contig, pos, allele_idx""",
    doc="bcftools `norm -m-` equivalent over the real VCF fixture: multi-"
    "allelic records split into one bi-allelic record per ALT via "
    "`operators/variants.py::split_multiallelics` — Number=A INFO values "
    "sliced to the kept allele, genotypes recoded (kept alt → 1, other "
    "alts → REF, phasing preserved) — then AC/AN recomputed from the "
    "recoded genotypes in one codegen aggregate (the `bcftools +fill-tags` "
    "step).  The whole split is a map-side posexplode: zero shuffle, zero "
    "Python in the row path.  Rows-only entry (DuckDB cannot read VCF); "
    "tests/test_multiallelic.py replays the split record-by-record in "
    "Python and compares every field exactly.",
)
def g14(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.variants import split_multiallelics
    from ..sources.headers import read_vcf_header_text
    from ..sources.vcf import VcfSource

    path = f"{_FIXTURES}/test.vcf"
    v = VcfSource().read(spark, path)
    s = split_multiallelics(v, read_vcf_header_text(path))
    alleles = F.flatten(
        F.transform(F.col("genotypes"), lambda g: F.split(g["gt"], r"[/|]"))
    )

    def count_eq(val: str) -> F.Column:
        return F.size(F.filter(alleles, _allele_eq(val))).cast("long")

    return s.select(
        "contig",
        "pos",
        "ref",
        F.try_element_at("alts", F.lit(1)).alias("alt"),
        "allele_idx",
        "n_orig_alts",
        F.col("info")["AF"].try_cast("double").alias("af"),
        count_eq("1").alias("ac"),
        (F.size(alleles) - count_eq(".")).cast("long").alias("an"),
    ).transform(
        lambda d: materialize(d, path_bytes(path))
    ).orderBy("contig", "pos", "allele_idx")


def _allele_eq(val: str):
    # single-parameter lambda (two-param HOF lambdas receive the index)
    return lambda x: x == F.lit(val)


# --------------------------------------------------------- g15 idxstats
@query(
    "g15_idxstats",
    f"""SELECT d.contig, d.length,
               CAST(coalesce(c.n_mapped, 0) AS BIGINT) AS n_mapped,
               CAST(coalesce(c.n_unmapped, 0) AS BIGINT) AS n_unmapped
        FROM {_BAM1_CONTIGS} d
        LEFT JOIN (
          SELECT coalesce(rname, '*') AS ctg,
                 sum(CASE WHEN (flag & 4) = 0 THEN 1 ELSE 0 END) AS n_mapped,
                 sum(CASE WHEN (flag & 4) != 0 THEN 1 ELSE 0 END) AS n_unmapped
          FROM {_BAM1} GROUP BY 1
        ) c ON c.ctg = d.contig
        ORDER BY d.rank""",
    doc="samtools-idxstats equivalent over the real BAM: one row per header "
    "contig IN HEADER ORDER — contig, length, mapped reads (FLAG&4 == 0), "
    "placed-but-unmapped reads (FLAG&4 set with a reference, i.e. unmapped "
    "mates dragged along by their pair) — plus the trailing '*' row for "
    "fully unplaced reads, exactly samtools' output contract (contigs with "
    "zero reads still appear).  The header sequence dictionary is a tiny "
    "driver-side DataFrame broadcast-left-joined onto one partial-agg scan "
    "of the reads; at 100 TB the shuffle carries (ref_id, two partial "
    "counts) per partition and nothing else.  Oracle: the same left join "
    "in DuckDB over the decoded reads + header-dictionary parquet twins; "
    "tests/test_qc.py recomputes every counter from the decoded reads.",
)
def g15(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.bam import BamSource
    from ..sources.headers import read_bam_header

    path = f"{_FIXTURES}/1.bam"
    _hdr, seq_dict, _ = read_bam_header(path)
    dims = spark.createDataFrame(
        [(i, name, length) for i, (name, length) in enumerate(seq_dict)]
        + [(len(seq_dict), "*", 0)],
        "rank int, contig string, length long",
    )
    counts = (
        BamSource()
        .read(spark, path, columns=["flag", "rname"])
        .groupBy(F.coalesce("rname", F.lit("*")).alias("contig"))
        .agg(
            F.sum((F.col("flag").bitwiseAND(4) == 0).cast("long")).alias("n_mapped"),
            F.sum((F.col("flag").bitwiseAND(4) != 0).cast("long")).alias("n_unmapped"),
        )
    )
    return (
        F.broadcast(dims)
        .join(counts, "contig", "left")
        .select(
            "contig",
            "length",
            F.coalesce("n_mapped", F.lit(0)).alias("n_mapped"),
            F.coalesce("n_unmapped", F.lit(0)).alias("n_unmapped"),
            "rank",
        )
        .orderBy("rank")
        .drop("rank")
    )


# ------------------------------------------------- g16 interval merge
_G16_SPAN_US = 300_000_000  # each event spans [ts, ts + 5 min]


@query(
    "g16_interval_merge",
    f"""WITH iv AS (SELECT event_type AS contig,
                           epoch_us(ts) AS s, epoch_us(ts) + {_G16_SPAN_US} AS e
                    FROM events),
        flagged AS (SELECT contig, s, e,
                           CASE WHEN s > max(e) OVER (PARTITION BY contig
                                                      ORDER BY s, e
                                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                                      AND 1 PRECEDING) + 1
                                THEN 1
                                WHEN max(e) OVER (PARTITION BY contig
                                                  ORDER BY s, e
                                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND 1 PRECEDING) IS NULL
                                THEN 1 ELSE 0 END AS opens
                    FROM iv),
        isl AS (SELECT contig, s, e,
                       sum(opens) OVER (PARTITION BY contig ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS island
                FROM flagged)
        SELECT contig, min(s) AS merged_start, max(e) AS merged_end,
               count(*) AS n_intervals
        FROM isl GROUP BY contig, island
        ORDER BY contig, merged_start""",
    doc="bedtools-merge equivalent (operators/interval.py::merge_intervals): "
    "overlapping and book-ended intervals (bedtools' default -d 0) coalesce "
    "into maximal islands per "
    "contig via distributed gaps-and-islands — one hash exchange on contig "
    "feeding a per-contig sort, island aggregate reusing the partitioning.  "
    "Run here on the events-as-intervals view so DuckDB hash-checks every "
    "island boundary; the same operator applies unchanged to read/variant "
    "spans from the genomics sources.",
)
def g16(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.interval import merge_intervals

    e = load_table(spark, sf, "events")
    iv = e.select(
        F.col("event_type").alias("contig"),
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_G16_SPAN_US)).alias("e"),
    )
    return (
        merge_intervals(iv, contig="contig", start="s", end="e")
        .orderBy("contig", "merged_start")
    )


# ------------------------------------------------- g17 interval subtract
_G17_SPAN_US = 300_000_000  # 5-minute spans on both sides
_G17_LOW = 1_704_067_200_000_000  # 2024-01-01 (the fixture's data window)
_G17_HIGH = 1_709_251_200_000_000  # 2024-03-01
_G17_BIN_US = 86_400_000_000  # 1-day bins for the gap intersect


@query(
    "g17_interval_subtract",
    f"""WITH a AS (SELECT event_id, user_id % 4 AS contig,
                          epoch_us(ts) AS s, epoch_us(ts) + {_G17_SPAN_US} AS e
                   FROM events WHERE event_type = 'purchase'),
        b AS (SELECT user_id % 4 AS contig,
                     epoch_us(ts) AS s, epoch_us(ts) + {_G17_SPAN_US} AS e
              FROM events WHERE event_type = 'error'),
        flagged AS (SELECT contig, s, e,
                           CASE WHEN max(e) OVER w IS NULL
                                  OR s > max(e) OVER w + 1 THEN 1 ELSE 0 END AS opens
                    FROM b
                    WINDOW w AS (PARTITION BY contig ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        isl AS (SELECT contig, s, e,
                       sum(opens) OVER (PARTITION BY contig ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS island
                FROM flagged),
        bm AS (SELECT contig, min(s) AS ms, max(e) AS me
               FROM isl GROUP BY contig, island),
        rawgaps AS (
          SELECT contig,
                 coalesce(lag(me) OVER (PARTITION BY contig ORDER BY ms) + 1,
                          {_G17_LOW}) AS gs,
                 ms - 1 AS ge
          FROM bm
          UNION ALL
          SELECT contig, max(me) + 1, {_G17_HIGH} FROM bm GROUP BY contig),
        gaps AS (SELECT contig, greatest(gs, {_G17_LOW}) AS gs,
                        least(ge, {_G17_HIGH}) AS ge
                 FROM rawgaps
                 WHERE greatest(gs, {_G17_LOW}) <= least(ge, {_G17_HIGH})),
        frags AS (SELECT a.event_id, a.contig,
                         greatest(a.s, g.gs) AS frag_start,
                         least(a.e, g.ge) AS frag_end
                  FROM a JOIN gaps g
                    ON a.contig = g.contig AND a.s <= g.ge AND a.e >= g.gs
                  UNION ALL
                  SELECT event_id, contig, s, e FROM a
                  WHERE contig NOT IN (SELECT DISTINCT contig FROM bm))
        SELECT event_id, CAST(contig AS BIGINT) AS contig, frag_start, frag_end
        FROM frags ORDER BY event_id, frag_start""",
    doc="bedtools-subtract equivalent "
    "(operators/interval.py::subtract_intervals): remove every 'error' "
    "blackout span from every 'purchase' availability span, emitting the "
    "surviving fragments — complement-and-intersect composed from "
    "merge_intervals (b → disjoint islands), a same-keyed lag window "
    "(islands → gaps, clamped to the data window), and the binned "
    "interval_join (a ⨝ gaps, map-side clamp).  Fragment rows hash-check "
    "against DuckDB's quadratic formulation.",
)
def g17(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.interval import subtract_intervals

    e = load_table(spark, sf, "events")

    def iv(etype: str, with_id: bool) -> DataFrame:
        cols = ([F.col("event_id")] if with_id else []) + [
            (F.col("user_id") % 4).alias("contig"),
            F.unix_micros("ts").alias("s"),
            (F.unix_micros("ts") + F.lit(_G17_SPAN_US)).alias("e"),
        ]
        return e.filter(F.col("event_type") == etype).select(*cols)

    out = subtract_intervals(
        iv("purchase", True),
        iv("error", False),
        contig="contig",
        start="s",
        end="e",
        bin_size=_G17_BIN_US,
        low=_G17_LOW,
        high=_G17_HIGH,
    )
    return out.select(
        "event_id", F.col("contig").cast("long").alias("contig"), "frag_start", "frag_end"
    ).orderBy("event_id", "frag_start")


# ------------------------------------------------- g18 closest interval
_G18_SPAN_US = 300_000_000  # 5-minute spans
_G18_BIN_US = 86_400_000_000  # 1-day bins for the overlap part


@query(
    "g18_interval_closest",
    f"""WITH a AS (SELECT event_id, user_id % 4 AS contig,
                          epoch_us(ts) AS s, epoch_us(ts) + {_G18_SPAN_US} AS e
                   FROM events WHERE event_type = 'purchase'),
        b AS (SELECT user_id % 4 AS contig,
                     epoch_us(ts) AS s, epoch_us(ts) + {_G18_SPAN_US} AS e
              FROM events WHERE event_type = 'error'),
        cand AS (SELECT a.event_id, b.s AS bs, b.e AS be,
                        greatest(0, greatest(b.s - a.e, a.s - b.e)) AS d
                 FROM a JOIN b ON a.contig = b.contig),
        best AS (SELECT event_id, bs, be, d,
                        row_number() OVER (PARTITION BY event_id
                                           ORDER BY d, bs, be) AS rn
                 FROM cand)
        SELECT a.event_id, CAST(a.contig AS BIGINT) AS contig,
               best.bs AS b_s, best.be AS b_e, best.d AS distance
        FROM a LEFT JOIN best ON best.event_id = a.event_id AND best.rn = 1
        ORDER BY a.event_id""",
    doc="bedtools-closest equivalent "
    "(operators/interval.py::closest_intervals): for every 'purchase' span "
    "the nearest 'error' span with its distance (0 when overlapping; ties "
    "→ smallest (distance, b_start, b_end)).  Overlap candidates come from "
    "the binned interval join; the nearest left/right non-overlapping "
    "candidates come from two union-sort sweeps per contig — the q34 "
    "as-of-join shape (one shuffle, running last() window, no join node) — "
    "and a 3-way least-struct pick resolves the winner.  Never an "
    "all-pairs comparison; the DuckDB oracle IS the quadratic one, "
    "feasible only at test scale.",
)
def g18(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.interval import closest_intervals

    e = load_table(spark, sf, "events")

    def iv(etype: str, with_id: bool) -> DataFrame:
        cols = ([F.col("event_id")] if with_id else []) + [
            (F.col("user_id") % 4).alias("contig"),
            F.unix_micros("ts").alias("s"),
            (F.unix_micros("ts") + F.lit(_G18_SPAN_US)).alias("e"),
        ]
        return e.filter(F.col("event_type") == etype).select(*cols)

    out = closest_intervals(
        iv("purchase", True),
        iv("error", False),
        id_col="event_id",
        contig="contig",
        start="s",
        end="e",
        bin_size=_G18_BIN_US,
    )
    return out.select(
        "event_id",
        F.col("contig").cast("long").alias("contig"),
        "b_s",
        "b_e",
        "distance",
    ).orderBy("event_id")


# ------------------------------------------------- g19 GC-content windows
_G19_WINDOW = 50


@query(
    "g19_gc_windows",
    f"""WITH w AS (
          SELECT contig, ws AS w_start,
                 least(ws + {_G19_WINDOW} - 1, length(seq)) AS w_end,
                 substr(seq, CAST(ws AS INTEGER), {_G19_WINDOW}) AS s
          FROM {_FASTA_SEQS},
               unnest(generate_series(1, length(seq), {_G19_WINDOW})) AS t(ws)
        )
        SELECT contig, w_start, w_end,
               CAST(length(s) - length(translate(s, 'GCgc', '')) AS BIGINT)
                 AS gc_count,
               CAST(length(s) - length(translate(s, 'Nn', '')) AS BIGINT)
                 AS n_count,
               round((length(s) - length(translate(s, 'GCgc', ''))) /
                     CAST(length(s) AS DOUBLE), 4) AS gc_frac
        FROM w ORDER BY contig, w_start""",
    doc="GC-content profile of the reference FASTA in fixed windows — the "
    "classic GC-bias QC track: sources/fasta.py cuts the .fai-indexed "
    "reference into window rows with O(contigs) driver planning and "
    "per-task byte-range reads, then GC/N counts and the GC fraction are "
    "pure codegen string expressions over the seq column (no Python after "
    "the scan).  Oracle: DuckDB re-windows the whole-contig sequences "
    "(independent FASTA parse, fixtures/oracle/) with generate_series; "
    "tests/test_fasta.py recomputes every window in Python and pins "
    "window reassembly == the whole reference.",
)
def g19(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.fasta import FastaSource

    df = FastaSource().read(spark, f"{_FIXTURES}/valid.fasta", window=_G19_WINDOW)
    n_len = F.length("seq")
    gc = n_len - F.length(F.translate("seq", "GCgc", ""))
    nn = n_len - F.length(F.translate("seq", "Nn", ""))
    return df.select(
        "contig",
        "w_start",
        "w_end",
        gc.cast("long").alias("gc_count"),
        nn.cast("long").alias("n_count"),
        F.round(gc / n_len, 4).alias("gc_frac"),
    ).transform(
        lambda d: materialize(d, path_bytes(f"{_FIXTURES}/valid.fasta"))
    ).orderBy("contig", "w_start")


# ------------------------------------------------- g20 k-mer spectrum
_G20_K = 8
_G20_WINDOW = 50


@query(
    "g20_kmer_spectrum",
    f"""WITH km AS (
          SELECT substr(seq, CAST(ki AS INTEGER), {_G20_K}) AS kmer
          FROM {_FASTA_SEQS},
               unnest(generate_series(1, length(seq) - {_G20_K} + 1)) AS t(ki)
        )
        SELECT least(kmer, reverse(translate(kmer, 'ACGT', 'TGCA'))) AS canon,
               count(*) AS n
        FROM km GROUP BY canon ORDER BY n DESC, canon""",
    doc="Canonical k-mer spectrum of the reference (jellyfish/KMC "
    "equivalent, k=8): sources/fasta.py windows carry k-1 lookahead bases "
    "so every k-mer — including those crossing window and task boundaries "
    "— is extracted EXACTLY once (only starts within the window emit); "
    "canonicalization (lexicographic min of k-mer and reverse complement "
    "via translate+reverse) and extraction are pure codegen expressions; "
    "one hash aggregate with map-side combine builds the spectrum.  At "
    "genome scale the shuffle carries (kmer, partial-count) rows bounded "
    "by 4^k per partition.  Oracle: DuckDB extracts every k-mer from the "
    "whole-contig sequences (independent FASTA parse — a window-tiling bug "
    "on the Spark side would diverge); tests/test_fasta.py also "
    "recomputes the whole spectrum in Python.",
)
def g20(spark: SparkSession, sf: str) -> DataFrame:
    return kmer_spectrum(spark, f"{_FIXTURES}/valid.fasta", k=_G20_K, window=_G20_WINDOW)


def kmer_spectrum(
    spark: SparkSession,
    path: str,
    k: int,
    window: int,
    split_windows: int = 4096,
) -> DataFrame:
    """Canonical k-mer spectrum of a FASTA — shared by g20 and the
    task-seam tiling test (which runs it at split_windows=2 so the
    overlap-across-task-boundary path actually executes)."""
    from ..sources.fasta import FastaSource

    df = FastaSource().read(
        spark, path, window=window, split_windows=split_windows, overlap=k - 1
    )
    starts = F.sequence(F.lit(1), F.greatest(F.lit(0), F.length("seq") - (k - 1)))
    kmers = F.filter(
        F.transform(starts, lambda i: F.substring(F.col("seq"), i, k)),
        lambda s: F.length(s) == k,
    )
    # exactly-once tiling: only k-mers STARTING within the window proper
    kmers = F.slice(kmers, 1, F.lit(window))
    km = df.select(F.explode(kmers).alias("kmer"))
    rc = F.reverse(F.translate("kmer", "ACGT", "TGCA"))
    return (
        km.select(F.least(F.col("kmer"), rc).alias("canon"))
        .groupBy("canon")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "canon")
    )


# ------------------------------------------------- g21 CpG islands
_G21_WINDOW = 50


@query(
    "g21_cpg_islands",
    f"""WITH w AS (
          SELECT contig, ws AS w_start,
                 substr(seq, CAST(ws AS INTEGER), {_G21_WINDOW}) AS body,
                 substr(seq, CAST(ws AS INTEGER), {_G21_WINDOW} + 1) AS wide
          FROM {_FASTA_SEQS},
               unnest(generate_series(1, length(seq), {_G21_WINDOW})) AS t(ws)
        ), c AS (
          SELECT contig, w_start,
                 length(body) AS blen,
                 length(body) - length(translate(body, 'C', '')) AS n_c,
                 length(body) - length(translate(body, 'G', '')) AS n_g,
                 (length(wide) - length(replace(wide, 'CG', ''))) / 2 AS n_cg
          FROM w
        )
        SELECT contig, w_start, w_start + blen - 1 AS w_end,
               CAST(n_c AS BIGINT) AS n_c, CAST(n_g AS BIGINT) AS n_g,
               CAST(n_cg AS BIGINT) AS n_cg,
               CASE WHEN n_c > 0 AND n_g > 0
                    THEN round(n_cg * blen / (n_c * n_g), 4)
                    ELSE 0.0 END AS obs_exp,
               ((n_c + n_g) / CAST(blen AS DOUBLE) > 0.5 AND
                CASE WHEN n_c > 0 AND n_g > 0
                     THEN round(n_cg * blen / (n_c * n_g), 4)
                     ELSE 0.0 END > 0.6) AS is_island
        FROM c ORDER BY contig, w_start""",
    doc="CpG-island scan (Gardiner-Garden & Frommer criteria — EMBOSS "
    "newcpgreport / UCSC cpgIslandExt analog) over the reference windows: "
    "per window the C/G counts, the CpG dinucleotide count (windows carry "
    "one lookahead base so a CG spanning a window boundary is counted in "
    "exactly one window — the same exactly-once tiling as g20), the "
    "observed/expected ratio n_CG·len/(n_C·n_G), and the classic island "
    "flag (GC% > 50 and obs/exp > 0.6).  All counting is replace/translate "
    "string codegen; one scan, zero shuffle before the final ORDER BY.  "
    "Oracle: DuckDB re-windows the whole-contig sequences with the same "
    "one-base lookahead; tests/test_fasta.py recomputes every window.",
)
def g21(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.fasta import FastaSource

    w = _G21_WINDOW
    df = FastaSource().read(spark, f"{_FIXTURES}/valid.fasta", window=w, overlap=1)
    body = F.substring("seq", 1, w)  # window-proper bases (no lookahead)
    blen = F.length(body)
    n_c = blen - F.length(F.translate(body, "C", ""))
    n_g = blen - F.length(F.translate(body, "G", ""))
    # CG starts within the window: the lookahead base lets the last start
    # see its successor; CG cannot self-overlap so replace-count is exact
    n_cg = (F.length("seq") - F.length(F.regexp_replace("seq", "CG", ""))) / 2
    obs_exp = F.when(
        (n_c > 0) & (n_g > 0), F.round(n_cg * blen / (n_c * n_g), 4)
    ).otherwise(F.lit(0.0))
    gc_pct = (n_c + n_g) / blen
    return df.select(
        "contig",
        "w_start",
        (F.col("w_start") + blen - 1).alias("w_end"),
        n_c.cast("long").alias("n_c"),
        n_g.cast("long").alias("n_g"),
        n_cg.cast("long").alias("n_cg"),
        obs_exp.alias("obs_exp"),
        ((gc_pct > 0.5) & (obs_exp > 0.6)).alias("is_island"),
    ).transform(
        lambda d: materialize(d, path_bytes(f"{_FIXTURES}/valid.fasta"))
    ).orderBy("contig", "w_start")


# -------------------------------------------------- g22 runs of homozygosity
_G22_MIN_SITES = 5  # report runs of at least this many consecutive hom sites


@query(
    "g22_roh_runs",
    f"""WITH g AS (
          SELECT contig, pos, sample,
                 (len(al) = 2 AND al[1] = al[2] AND al[1] != '.'
                  AND al[1] != '') AS hom
          FROM (SELECT contig, pos, sample,
                       regexp_split_to_array(gt, '[/|]') AS al
                FROM {_VCF_HISEQ_GT})
        ), f AS (
          SELECT *, CASE WHEN lag(hom) OVER w IS NULL
                           OR hom != lag(hom) OVER w THEN 1 ELSE 0 END AS brk
          FROM g WINDOW w AS (PARTITION BY contig, sample ORDER BY pos)
        ), r AS (
          SELECT *, sum(brk) OVER (PARTITION BY contig, sample ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS run
          FROM f
        )
        SELECT contig, sample, min(pos) AS start_pos, max(pos) AS end_pos,
               count(*) AS n_sites
        FROM r WHERE hom
        GROUP BY contig, sample, run
        HAVING count(*) >= {_G22_MIN_SITES}
        ORDER BY contig, sample, start_pos""",
    doc="Runs of homozygosity (`bcftools roh`-style): consecutive homozygous "
    "genotype calls per (contig, sample) collapse to run intervals via "
    "distributed gaps-and-islands — a het or missing call breaks the run.  "
    "A genotype is homozygous iff both alleles are equal and non-missing "
    "(phase-insensitive: '/' and '|' separators both split).  Emits one row "
    "per run of >= 5 sites with its [start_pos, end_pos] span and site "
    "count, over the real 10k-variant BGZF VCF fixture.\n\n"
    "Scale shape: ONE hash shuffle on (contig, sample); the break-flag lag "
    "window, the run-id running sum and the per-run aggregate all reuse "
    "that partitioning (the two windows share one sort on pos).  At "
    "100 TB / 1000s of samples the work distributes per (contig, sample) "
    "with no cross-key traffic — the same shape as the session windows in "
    "q31.  Oracle: the same gaps-and-islands windows in DuckDB over the "
    "exploded-genotype parquet twin (fixtures/oracle/; no duplicate "
    "(contig,pos,sample) keys in the fixture, so window order is total); "
    "tests/test_variants_typed.py replays every run from the raw text.",
)
def g22(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.variants import explode_genotypes
    from ..sources.headers import read_vcf_header_text
    from ..sources.vcf import VcfSource

    path = f"{_FIXTURES}/HiSeq.10000.vcf.bgz"
    hdr = read_vcf_header_text(path)
    g = explode_genotypes(VcfSource().read(spark, path), hdr).select(
        "contig", "pos", "sample", "gt"
    )
    alleles = F.split("gt", r"[/|]")
    hom = (
        (F.size(alleles) == 2)
        & (alleles[0] == alleles[1])
        & (alleles[0] != ".")
        & (alleles[0] != "")
    )
    w = Window.partitionBy("contig", "sample").orderBy("pos")
    flagged = g.select("contig", "pos", "sample", hom.alias("hom"))
    brk = F.when(
        F.lag("hom").over(w).isNull() | (F.col("hom") != F.lag("hom").over(w)), 1
    ).otherwise(0)
    runs = flagged.withColumn("brk", brk).withColumn(
        "run", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        runs.filter("hom")
        .groupBy("contig", "sample", "run")
        .agg(
            F.min("pos").alias("start_pos"),
            F.max("pos").alias("end_pos"),
            F.count(F.lit(1)).alias("n_sites"),
        )
        .filter(F.col("n_sites") >= _G22_MIN_SITES)
        .select("contig", "sample", "start_pos", "end_pos", "n_sites")
        .orderBy("contig", "sample", "start_pos")
    )


# ------------------------------------------------------ g23 BCF typed stats
@query(
    "g23_bcf_stats",
    f"""SELECT contig, count(*) AS n_sites,
               floor((2 * sum(CAST(round(qual_f32 * 100) AS BIGINT)) + count(qual_f32))
                     / (2 * count(qual_f32))) / 100.0 AS avg_qual,
               CAST(sum(n_genotypes) AS BIGINT) AS n_genotypes,
               CAST(sum(CASE WHEN length(ref) = 1 AND len(alts) > 0
                              AND length(alts[1]) = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_snps,
               CAST(sum(len(alts)) AS BIGINT) AS n_alt_alleles
        FROM {_VCF_TEST}
        GROUP BY contig ORDER BY contig""",
    doc="BCF round-trip analytics: the spec-fixture VCF is written to BCF "
    "2.2 (the binary variants format the reference's support matrix marks "
    "unsupported) through the distributed sink, read back through the "
    "splittable source, and aggregated — per-contig site/genotype counts, "
    "mean QUAL, ts/tv-eligible SNP count — proving the full typed codec "
    "path (dictionaries, typed vectors, GT packing) inside one Spark "
    "plan.  Oracle: the same aggregates in DuckDB over the decoded VCF "
    "parquet twin, with QUAL canonicalized to float32 (BCF stores QUAL as "
    "IEEE float32, so the oracle compares at the codec's declared "
    "precision); the codec itself is byte-level- and round-trip-pinned in "
    "tests/test_bcf.py.",
)
def g23(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile

    from ..sources.bcf import BcfSink, BcfSource
    from ..sources.headers import read_vcf_header_text
    from ..sources.vcf import VcfSource

    src = f"{_FIXTURES}/test.vcf"
    hdr = read_vcf_header_text(src)
    out = tempfile.mkdtemp(prefix="disq_bcf_") + "/t.bcf"
    BcfSink().write(VcfSource().read(spark, src), hdr, out)
    v = BcfSource().read(spark, out)
    is_snp = (F.length("ref") == 1) & (
        F.size("alts") > 0
    ) & (F.length(F.element_at("alts", 1)) == 1)
    return (
        v.groupBy("contig")
        .agg(
            F.count(F.lit(1)).alias("n_sites"),
            _avg_e2_exact("qual").alias("avg_qual"),
            F.sum(F.size("genotypes")).cast("long").alias("n_genotypes"),
            F.sum(is_snp.cast("int")).cast("long").alias("n_snps"),
            F.sum(F.size("alts")).cast("long").alias("n_alt_alleles"),
        )
        .orderBy("contig")
    )


# ------------------------------------------------- g24 BAM→FASTQ conversion
@query(
    "g24_bam_to_fastq",
    f"""WITH fq AS (
          SELECT CASE WHEN (flag & 64) != 0 THEN qname || '/1'
                      WHEN (flag & 128) != 0 THEN qname || '/2'
                      ELSE qname END AS name,
                 CASE WHEN (flag & 16) != 0
                      THEN reverse(translate(seq, 'ACGTNacgtn', 'TGCANtgcan'))
                      ELSE seq END AS seq,
                 CASE WHEN (flag & 16) != 0 THEN reverse(qual)
                      ELSE qual END AS qual
          FROM {_BAM1}
          WHERE (flag & 256) = 0 AND (flag & 2048) = 0
        )
        SELECT CASE WHEN name LIKE '%/1' THEN 'r1'
                    WHEN name LIKE '%/2' THEN 'r2'
                    ELSE 'unpaired' END AS mate,
               count(*) AS n_reads,
               CAST(sum(length(seq)) AS BIGINT) AS n_bases,
               md5(string_agg(md5(seq), '' ORDER BY md5(seq))) AS seq_digest,
               md5(string_agg(md5(qual), '' ORDER BY md5(qual))) AS qual_digest
        FROM fq GROUP BY 1 ORDER BY 1""",
    doc="samtools-fastq equivalent as pure codegen: the real BAM's primary "
    "records convert to instrument-orientation FASTQ (reverse-strand reads "
    "reverse-complemented with reversed qualities, mate /1 /2 suffixes), "
    "then aggregate to orientation/mate counts, total bases and md5-folded "
    "content digests — the export path a realignment pipeline runs before "
    "re-mapping.  Zero Python in the row path (translate + reverse in "
    "Tungsten).  Oracle: DuckDB re-runs the whole conversion (revcomp, "
    "mate suffixes, sorted-digest folds) over the decoded reads parquet "
    "twin; tests/test_fastq.py replays every record in Python and "
    "round-trips through the splittable FASTQ sink/source.",
)
def g24(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.bam import BamSource
    from ..sources.fastq import bam_to_fastq

    fq = bam_to_fastq(
        BamSource().read(
            spark, f"{_FIXTURES}/1.bam",
            columns=["qname", "flag", "seq", "qual"],
        )
    )
    mate = F.when(F.col("name").endswith("/1"), "r1").when(
        F.col("name").endswith("/2"), "r2"
    ).otherwise("unpaired")
    return (
        fq.groupBy(mate.alias("mate"))
        .agg(
            F.count(F.lit(1)).alias("n_reads"),
            F.sum(F.length("seq")).cast("long").alias("n_bases"),
            F.md5(F.concat_ws("", F.sort_array(F.collect_list(F.md5("seq"))))).alias(
                "seq_digest"
            ),
            F.md5(F.concat_ws("", F.sort_array(F.collect_list(F.md5("qual"))))).alias(
                "qual_digest"
            ),
        )
        .orderBy("mate")
    )


# ------------------------------------------------------------------ g25 gene model
_GFF_PATH = str(Path(__file__).resolve().parents[2] / "fixtures" / "annotation.gff3")
_GFF_CSV = (
    f"read_csv('{_GFF_PATH}', delim='\\t', header=false, null_padding=true,"
    " all_varchar=true, names=['seqid','source','type','fstart','fend',"
    "'score','strand','phase','attributes'])"
)


def _sql_attr_decode(expr: str) -> str:
    """DuckDB replace-chain mirroring ``sources.gff._attr_decode`` (the
    Spark read path %XX-decodes attribute keys/values, so the oracles'
    raw-text ID/Parent slices must decode identically or an escaped id in
    a future fixture would silently break gene joins on the oracle side
    only).  Same ordering contract: specific codes first (both hex
    cases), '%25' strictly last; control characters embed via chr() so
    the generated SQL stays printable."""
    from ..sources.gff import _ATTR_ESCAPES

    sql_lit = {"\t": "chr(9)", "\n": "chr(10)", "\r": "chr(13)"}
    for raw, code in reversed(_ATTR_ESCAPES):
        lit = sql_lit.get(raw, "'" + raw.replace("'", "''") + "'")
        for c in dict.fromkeys([code, code.lower()]):
            expr = f"replace({expr}, '{c}', {lit})"
    return expr


@query(
    "g25_gff_gene_model",
    f"""WITH f AS (
          SELECT seqid, type, CAST(fstart AS BIGINT) AS fstart,
                 CAST(fend AS BIGINT) AS fend, strand,
                 {_sql_attr_decode("list_filter(string_split(attributes, ';'),"
                                   " a -> a LIKE 'ID=%')[-1][4:]")} AS id,
                 {_sql_attr_decode("list_filter(string_split(attributes, ';'),"
                                   " a -> a LIKE 'Parent=%')[-1][8:]")} AS parent
          FROM {_GFF_CSV}
          WHERE seqid NOT LIKE '#%'),
        genes AS (SELECT id AS gene_id, seqid, fstart AS start,
                         fend AS "end", strand
                  FROM f WHERE type = 'gene'),
        tx AS (SELECT id AS tx_id, unnest(string_split(parent, ',')) AS gene_id
               FROM f WHERE type = 'mRNA'),
        ex AS (SELECT unnest(string_split(parent, ',')) AS tx_id, fstart, fend
               FROM f WHERE type = 'exon'),
        exg AS (SELECT tx.gene_id, ex.fstart, ex.fend
                FROM ex JOIN tx ON ex.tx_id = tx.tx_id),
        agg_tx AS (SELECT gene_id, count(*) AS n_tx FROM tx GROUP BY 1),
        agg_ex AS (SELECT gene_id, count(*) AS n_exons FROM exg GROUP BY 1),
        agg_sp AS (SELECT gene_id, count(*) AS n_spans,
                          CAST(sum(fend - fstart + 1) AS BIGINT) AS span_bases
                   FROM (SELECT DISTINCT gene_id, fstart, fend FROM exg) s
                   GROUP BY 1)
        SELECT g.gene_id, g.seqid, g.start, g."end", g.strand,
               coalesce(n_tx, 0) AS n_tx,
               coalesce(n_exons, 0) AS n_exons,
               coalesce(n_spans, 0) AS n_spans,
               coalesce(span_bases, 0) AS span_bases
        FROM genes g
        LEFT JOIN agg_tx USING (gene_id)
        LEFT JOIN agg_ex USING (gene_id)
        LEFT JOIN agg_sp USING (gene_id)
        ORDER BY gene_id""",
    doc="Gene-model rollup over the GFF3 annotation source "
    "(sources/gff.py): per gene, the isoform count, total exon rows "
    "across isoforms, DISTINCT exon spans (isoforms share exons, so the "
    "two differ), and the distinct-span base total — the gene-summary "
    "table an annotation QC step materializes before joining models "
    "against reads or variants.  The ID/Parent hierarchy (gene → mRNA → "
    "exon) resolves via two equi-joins on the attribute map's ID keys.\n\n"
    "Scale shape: the parse is a native splittable text scan, all codegen "
    "(attribute map included — no Python in the row path, pinned by "
    "tests/test_gff.py); annotation tables are dim-sized (a human "
    "genome's GFF3 is ~3M rows) so the transcript table broadcasts into "
    "the exon join, and the rollup shuffles only slim (gene_id, span) "
    "columns.  Oracle: DuckDB independently re-parses the SAME .gff3 "
    "text via read_csv + string ops — a cross-engine parse of the raw "
    "format, not a twin of this parser (duplicate tags resolve "
    "last-wins on both sides, matching the source's lenient map).",
)
def g25(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.gff import GffSource

    feats = GffSource().read(spark, _GFF_PATH).select(
        "seqid", "type", "start", "end", "strand",
        F.col("attributes")["ID"].alias("id"),
        F.col("attributes")["Parent"].alias("parent"),
    )
    genes = feats.filter(F.col("type") == "gene").select(
        F.col("id").alias("gene_id"), "seqid", "start", "end", "strand"
    )
    # Parent is multi-valued in GFF3 (Parent=t1,t2): split + explode before
    # the hierarchy joins or shared exons/transcripts silently vanish from
    # the rollup (ADVICE r5; %2C stays undecoded so ',' is always a separator)
    tx = feats.filter(F.col("type") == "mRNA").select(
        F.col("id").alias("tx_id"),
        F.explode(F.split("parent", ",")).alias("gene_id"),
    )
    ex = feats.filter(F.col("type") == "exon").select(
        F.explode(F.split("parent", ",")).alias("tx_id"), "start", "end"
    )
    exg = ex.join(F.broadcast(tx), "tx_id").select("gene_id", "start", "end")
    agg_tx = tx.groupBy("gene_id").agg(F.count(F.lit(1)).alias("n_tx"))
    agg_ex = exg.groupBy("gene_id").agg(F.count(F.lit(1)).alias("n_exons"))
    agg_sp = (
        exg.distinct()
        .groupBy("gene_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("end") - F.col("start") + 1).alias("span_bases"),
        )
    )
    return (
        genes.join(agg_tx, "gene_id", "left")
        .join(agg_ex, "gene_id", "left")
        .join(agg_sp, "gene_id", "left")
        .select(
            "gene_id", "seqid", "start", "end", "strand",
            F.coalesce("n_tx", F.lit(0)).alias("n_tx"),
            F.coalesce("n_exons", F.lit(0)).alias("n_exons"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("span_bases", F.lit(0)).alias("span_bases"),
        )
        .orderBy("gene_id")
    )


# ------------------------------------------------- g26 variant annotation
_GFF_HISEQ_PATH = str(
    Path(__file__).resolve().parents[2] / "fixtures" / "annotation_hiseq.gff3"
)
_GFF_HISEQ_CSV = (
    f"read_csv('{_GFF_HISEQ_PATH}', delim='\\t', header=false,"
    " null_padding=true, all_varchar=true, names=['seqid','source','type',"
    "'fstart','fend','score','strand','phase','attributes'])"
)


@query(
    "g26_variant_annotation",
    f"""WITH raw AS (SELECT * FROM {_GFF_HISEQ_CSV}),
        b AS (SELECT string_split(seqid, ' ')[2] AS contig,
                     CAST(string_split(seqid, ' ')[4] AS BIGINT) AS contig_end
              FROM raw WHERE seqid LIKE '##sequence-region%'),
        f AS (SELECT seqid AS contig, type,
                     CAST(fstart AS BIGINT) AS fs, CAST(fend AS BIGINT) AS fe,
                     {_sql_attr_decode("list_filter(string_split(attributes,"
                                       " ';'), a -> a LIKE 'ID=%')[-1][4:]")}
                       AS id,
                     {_sql_attr_decode("list_filter(string_split(attributes,"
                                       " ';'), a -> a LIKE 'Parent=%')[-1]"
                                       "[8:]")} AS parent
              FROM raw WHERE seqid NOT LIKE '#%'),
        genes AS (SELECT contig, fs AS gstart, fe AS gend, id AS gene_id
                  FROM f WHERE type = 'gene'),
        tx AS (SELECT id AS tx_id, unnest(string_split(parent, ',')) AS gene_id
               FROM f WHERE type = 'mRNA'),
        exons AS (SELECT e.contig, e.fs, e.fe, tx.gene_id
                  FROM (SELECT contig, fs, fe,
                               unnest(string_split(parent, ',')) AS tx_id
                        FROM f WHERE type = 'exon') e
                  JOIN tx ON e.tx_id = tx.tx_id),
        v AS (SELECT DISTINCT contig, pos FROM {_VCF_HISEQ}),
        exhit AS (SELECT v.contig, v.pos, min(x.gene_id) AS gid
                  FROM v JOIN exons x
                    ON v.contig = x.contig AND v.pos BETWEEN x.fs AND x.fe
                  GROUP BY 1, 2),
        ghit AS (SELECT v.contig, v.pos, min(g.gene_id) AS gid
                 FROM v JOIN genes g
                   ON v.contig = g.contig AND v.pos BETWEEN g.gstart AND g.gend
                 GROUP BY 1, 2),
        iv AS (SELECT v.* FROM v ANTI JOIN ghit USING (contig, pos)),
        near AS (SELECT contig, pos, gene_id, dist FROM (
                   SELECT iv.contig, iv.pos, g.gene_id,
                          CASE WHEN iv.pos < g.gstart THEN g.gstart - iv.pos
                               ELSE iv.pos - g.gend END AS dist,
                          row_number() OVER (
                            PARTITION BY iv.contig, iv.pos
                            ORDER BY CASE WHEN iv.pos < g.gstart
                                          THEN g.gstart - iv.pos
                                          ELSE iv.pos - g.gend END,
                                     g.gene_id) AS rn
                   FROM iv JOIN genes g ON iv.contig = g.contig) q
                 WHERE rn = 1),
        lastg AS (SELECT contig, max(gend) AS last_end FROM genes GROUP BY 1),
        -- the operator's trailing gap exists only up to the declared
        -- ##sequence-region bound: a variant past the last gene on an
        -- unbounded contig, or past the bound itself, measures NOTHING
        -- (NULL gene/dist) — mirror that rule instead of brute-forcing
        -- an unbounded nearest the Spark side deliberately refuses
        meas AS (SELECT v.contig, v.pos,
                        NOT (v.pos > lg.last_end
                             AND (b.contig_end IS NULL
                                  OR v.pos > b.contig_end)) AS measurable
                 FROM v JOIN lastg lg USING (contig)
                        LEFT JOIN b USING (contig))
        SELECT v.contig, v.pos,
               CASE WHEN e.gid IS NOT NULL THEN 'exonic'
                    WHEN g.gid IS NOT NULL THEN 'intronic'
                    ELSE 'intergenic' END AS vclass,
               CASE WHEN e.gid IS NOT NULL OR g.gid IS NOT NULL
                      OR coalesce(m.measurable, FALSE)
                    THEN coalesce(e.gid, g.gid, n.gene_id) END AS gene_id,
               CASE WHEN e.gid IS NOT NULL OR g.gid IS NOT NULL THEN 0
                    WHEN coalesce(m.measurable, FALSE) THEN n.dist
                    END AS dist
        FROM v LEFT JOIN exhit e USING (contig, pos)
               LEFT JOIN ghit g USING (contig, pos)
               LEFT JOIN near n USING (contig, pos)
               LEFT JOIN meas m USING (contig, pos)
        ORDER BY contig, pos""",
    doc="Variant→gene-model annotation (VEP/SnpEff-lite, "
    "operators/annotate.py): every HiSeq VCF locus classified exonic / "
    "intronic / intergenic against the GFF3 gene models, with nearest "
    "gene + distance for the intergenic class — the step every variant-"
    "interpretation pipeline runs between calling and reporting, and the "
    "first query composing BOTH new sources (VCF stream × GFF3 "
    "dimension).\n\n"
    "Scale shape: the gene model is a broadcast DIMENSION; exon, gene, "
    "and intergenic-GAP intervals (gaps precomputed dimension-side from "
    "merged gene islands, carrying their flanking genes, bounded by the "
    "##sequence-region directive) bin into fixed-width buckets so the "
    "variant stream pays ONE broadcast equi-join on (contig, bin) + a "
    "residual range filter — no variant shuffle, no nested-loop join, no "
    "per-variant nearest-gene search: a 100 TB VCF lake annotates "
    "map-side.  Tie-breaks (exon beats intron; smallest gene id; nearest "
    "by distance then id) are deterministic and mirrored in the oracle, "
    "which independently re-parses the SAME .gff3 text (including the "
    "%XX attribute decode and the measurability rule: past the last "
    "gene with no ##sequence-region bound, or past the bound itself, "
    "nearest is NULL on both sides) and brute-forces nearest-gene with "
    "a window over the variant×gene cross join — a different algorithm "
    "entirely, so a gap-construction bug on the Spark side cannot hide.",
)
def g26(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.annotate import annotate_variants, gene_features
    from ..sources.gff import GffSource, read_sequence_regions
    from ..sources.vcf import VcfSource

    gff = GffSource().read(spark, _GFF_HISEQ_PATH)
    genes, exons = gene_features(gff)
    bounds = read_sequence_regions(spark, _GFF_HISEQ_PATH)
    v = VcfSource().read(
        spark, f"{_FIXTURES}/HiSeq.10000.vcf.bgz", split_size=256 * 1024
    ).select("contig", "pos")
    return annotate_variants(v, genes, exons, bounds).orderBy("contig", "pos")


# ------------------------------------------ g27 coverage uniformity (Gini)
@query(
    "g27_coverage_uniformity",
    f"""WITH ev AS (
          SELECT rname, s AS p, 1 AS d FROM {_SPANS}
          UNION ALL
          SELECT rname, e + 1 AS p, -1 AS d FROM {_SPANS}),
        deltas AS (SELECT rname, p, sum(d) AS delta FROM ev GROUP BY 1, 2),
        runs AS (SELECT rname, p,
                        sum(delta) OVER (PARTITION BY rname ORDER BY p)
                          AS depth,
                        lead(p) OVER (PARTITION BY rname ORDER BY p) AS np
                 FROM deltas),
        cov AS (SELECT rname, depth, CAST(sum(np - p) AS BIGINT) AS c
                FROM runs WHERE depth >= 1 AND np IS NOT NULL
                GROUP BY 1, 2),
        ranked AS (SELECT rname, depth, c,
                          CAST(sum(c) OVER (PARTITION BY rname
                                            ORDER BY depth) AS HUGEINT)
                            AS cum
                   FROM cov),
        g AS (SELECT rname, depth, c, cum,
                     cum * (cum + 1) - (cum - c) * (cum - c + 1)
                       AS ranksum2
              FROM ranked)
        SELECT rname,
               CAST(sum(c) AS BIGINT) AS n_covered,
               CAST(sum(depth * c) AS BIGINT) AS total_depth,
               CAST(max(depth) AS BIGINT) AS max_depth,
               CAST(CAST(sum(depth * ranksum2)
                         - (sum(c) + 1) * sum(depth * c)
                         AS DECIMAL(38,0)) AS VARCHAR) AS gini_num,
               CAST(CAST(sum(c) * sum(depth * c) AS DECIMAL(38,0))
                    AS VARCHAR) AS gini_den
        FROM g GROUP BY rname ORDER BY rname""",
    doc="Whole-file coverage-uniformity QC (operators/coverage.py): per "
    "contig, covered-base count, total aligned depth, max pileup, and the "
    "EXACT Gini coefficient of the per-base depth distribution as an "
    "integer numerator/denominator pair computed in DECIMAL(38,0) — "
    "wide enough that a full-genome 3 Gbp contig computes exactly where "
    "BIGINT would overflow — and emitted as the exact digit STRING "
    "(ADVICE r8: decimal output defeats cross-engine hash witnessing; "
    "the digit string is representation-stable and lossless).  "
    "(0 = perfectly even coverage — the flagship "
    "evenness metric sequencing QC dashboards track).  "
    "Computed by a delta-event run-length walk, NOT per-base explosion: "
    "+1/−1 breakpoints per aligned span, one running-sum window per "
    "contig reconstructs constant-depth runs, and the Gini folds each "
    "equal-depth block's rank sum in closed form — O(spans) rows where "
    "g13's samtools-depth shape would be O(bases) (2.5e8 rows for one "
    "chr1 at this metric's whole-contig scope).  Same eligibility as the "
    "spans twin: primary, mapped, non-supplementary.  Oracle: DuckDB "
    "runs the identical run-length math over the INDEPENDENT Python "
    "CIGAR walk's span table — the span derivation and the windowed "
    "run/Gini algebra are both cross-implemented.",
)
def g27(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.coverage import aligned_spans_expr, coverage_gini
    from ..sources.bam import BamSource

    reads = BamSource().read(
        spark,
        f"{_FIXTURES}/HiSeq.1mb.1RG.2k_lines.alternate.recalibrated.DIQ.sharded.bam",
        columns=["flag", "rname", "pos", "cigar"],
    )
    mapped = reads.filter(
        (F.col("flag").bitwiseAND(4 + 256 + 2048) == 0)
        & F.col("rname").isNotNull()
    )
    spans = mapped.select(
        "rname", F.explode(aligned_spans_expr(F.col("pos"))).alias("sp")
    ).select("rname", F.col("sp.s").alias("s"), F.col("sp.e").alias("e"))
    return coverage_gini(spans)
