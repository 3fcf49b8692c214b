"""Distributed duplicate marking for reads — the MarkDuplicates of this
engine, expressed as native Spark SQL over the BAM/SAM/CRAM read schema.

Reference parity: duplicate marking is THE flagship workload the reference
enables (GATK's MarkDuplicatesSpark reads and writes through disq; the
reference itself delegates the algorithm to its caller).  This repo makes
the operator first-class: Picard-core semantics — pair-end based keys on
(library, reference, unclipped 5' position, orientation), best-scoring
group member survives, sum-of-base-qualities>=15 score — computed entirely
in Catalyst expressions, no Python in the row path.

Semantics implemented (and pinned by a brute-force oracle in
tests/test_dupmark.py):

- Eligible pair: both ends mapped, primary, not supplementary.  The pair
  key is the canonically-ordered pair of end signatures
  (contig, unclipped 5' pos, strand); all pairs sharing a key form a
  duplicate set and the pair with the highest score (sum over BOTH ends of
  base qualities >= 15, ties to the lexicographically smallest qname)
  survives; every other pair's two ends are marked 0x400.
- Eligible fragment: mapped, primary, not supplementary, and either
  unpaired or mate-unmapped.  Fragments whose single-end signature
  collides with ANY eligible pair end are all duplicates (Picard: paired
  evidence beats fragment evidence); otherwise the best-scoring fragment
  survives its group.
- Unmapped, secondary and supplementary records pass through unmarked
  (classic Picard MarkDuplicates behavior; MarkDuplicatesSpark's
  transitive marking of secondaries is a documented divergence).
- Library = the @RG -> LB mapping from the header (reads with no RG or no
  LB fall into a single default library), matching Picard's
  LibraryIdGenerator.

Scale shape (the MarkDuplicatesSpark plan, reimplemented declaratively):
slim projections only — (qname, flags, contig, unclipped pos, strand,
score) — travel through the two decision shuffles (by qname to assemble
pairs, by duplicate key to rank groups); the full rows (seq/qual are the
bulk) are shuffled exactly ONCE, in the final mark join on (qname, read
ordinal).  Map-side partial aggregation applies to both slim stages, so at
100 TB the decision traffic is a few percent of the data and the single
full shuffle is the floor any repartition-based marker pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from ..cache import materialize
from pyspark.sql import functions as F

from ..sources.headers import SamHeader

# flag bits
_PAIRED = 1
_UNMAPPED = 4
_MATE_UNMAPPED = 8
_REVERSE = 16
_SECONDARY = 256
_DUP = 1024
_SUPPLEMENTARY = 2048
_READ_ORDINAL = 192  # 0x40 (first in pair) | 0x80 (last in pair)

_MIN_BASE_Q = 15  # Picard DuplicateScoringStrategy.SUM_OF_BASE_QUALITIES floor


def library_map(header: SamHeader) -> dict[str, str]:
    """@RG id -> LB from the header text (Picard's LibraryIdGenerator)."""
    out: dict[str, str] = {}
    for line in header.text.splitlines():
        if not line.startswith("@RG"):
            continue
        rg_id, lb = None, None
        for fldtok in line.split("\t")[1:]:
            if fldtok.startswith("ID:"):
                rg_id = fldtok[3:]
            elif fldtok.startswith("LB:"):
                lb = fldtok[3:]
        if rg_id is not None and lb is not None:
            out[rg_id] = lb
    return out


def _library_col(header: SamHeader) -> F.Column:
    lm = library_map(header)
    col = F.lit("__no_library__")
    for rg_id, lb in reversed(list(lm.items())):
        col = F.when(F.col("attributes")["RG"] == rg_id, lb).otherwise(col)
    return col


def _clip_cols() -> tuple[F.Column, F.Column]:
    """(leading, trailing) soft+hard clip lengths from the CIGAR string."""

    def _num(pat: str) -> F.Column:
        return F.coalesce(
            F.regexp_extract("cigar", pat, 1).try_cast("long"), F.lit(0)
        )

    lead = _num(r"^(\d+)H") + _num(r"^(?:\d+H)?(\d+)S")
    trail = _num(r"(\d+)H$") + _num(r"(\d+)S(?:\d+H)?$")
    return lead, trail


def _unclipped_5p() -> F.Column:
    """Unclipped 5' position: leading clips restored on the forward strand,
    trailing clips past the alignment end on the reverse strand — the
    coordinate Picard keys duplicates on, invariant to clipping."""
    from ..sources.sam import cigar_reference_length

    lead, trail = _clip_cols()
    end = F.col("pos") + F.greatest(
        cigar_reference_length(F.col("cigar")) - 1, F.lit(0)
    )
    return F.when(
        F.col("flag").bitwiseAND(_REVERSE) != 0, end + trail
    ).otherwise(F.col("pos") - lead)


def _score_col() -> F.Column:
    """Sum of base qualities >= 15 (Picard SUM_OF_BASE_QUALITIES)."""
    phred = F.transform(
        F.split(F.col("qual"), ""), lambda c: F.ascii(c) - 33
    )
    return F.when(F.col("qual") == "*", F.lit(0).cast("long")).otherwise(
        F.aggregate(
            phred,
            F.lit(0).cast("long"),
            lambda acc, q: acc + F.when(q >= _MIN_BASE_Q, q).otherwise(0),
        )
    )


def _mapped_primary() -> F.Column:
    flag = F.col("flag")
    return (
        (flag.bitwiseAND(_UNMAPPED) == 0)
        & (flag.bitwiseAND(_SECONDARY) == 0)
        & (flag.bitwiseAND(_SUPPLEMENTARY) == 0)
        & F.col("rname").isNotNull()
    )


def _dup_sig(reads: DataFrame, header: SamHeader) -> DataFrame:
    """Slim per-read signature: everything the decision stages need, none of
    the bulk (seq/qual reduced to the one score integer).  The contig key
    is the rname STRING, not a header rank — ranks would collapse every
    contig absent from the header dictionary onto one value and
    cross-mark reads on different unknown contigs."""
    flag = F.col("flag")
    mapped_primary = _mapped_primary()
    is_pair_end = (
        mapped_primary
        & (flag.bitwiseAND(_PAIRED) != 0)
        & (flag.bitwiseAND(_MATE_UNMAPPED) == 0)
    )
    is_fragment = mapped_primary & (
        (flag.bitwiseAND(_PAIRED) == 0) | (flag.bitwiseAND(_MATE_UNMAPPED) != 0)
    )
    return reads.select(
        "qname",
        flag.bitwiseAND(_READ_ORDINAL).alias("r12"),
        _library_col(header).alias("lib"),
        F.col("rname").alias("ctg"),
        _unclipped_5p().alias("upos"),
        (flag.bitwiseAND(_REVERSE) != 0).cast("int").alias("strand"),
        _score_col().alias("score"),
        is_pair_end.alias("pair_end"),
        is_fragment.alias("frag"),
    )


def _dup_marks(sig: DataFrame) -> DataFrame:
    """The duplicate-decision stages over a (persisted) signature frame:
    returns EXACTLY ONE row per marked qname — (m_qname, m_pair_dup,
    m_frag_r12s) — so a left join against it cannot duplicate read rows."""
    # ---- pair stage: assemble both ends per qname (shuffle 1, slim rows),
    # canonically order the two end signatures, rank groups (shuffle 2).
    end = F.struct(F.col("ctg"), F.col("upos"), F.col("strand"))
    pairs = (
        sig.filter("pair_end")
        .groupBy("qname", "lib")
        .agg(
            F.sort_array(F.collect_list(end)).alias("ends"),
            F.sum("score").alias("pscore"),
        )
        # qnames with !=2 eligible primary ends (orphaned mates under an
        # interval filter) simply form singleton "pairs" — their 1-element
        # ends array can never collide with a 2-element key
    )
    w_rank = F.row_number().over(
        Window.partitionBy("lib", "ends").orderBy(
            F.col("pscore").desc(), F.col("qname")
        )
    )
    ranked_pairs = pairs.select("qname", "lib", "ends", "pscore", w_rank.alias("rn"))
    dup_pair_qnames = ranked_pairs.filter("rn > 1").select("qname")

    # Every eligible pair END signature, for the pairs-beat-fragments rule.
    pair_end_sigs = (
        sig.filter("pair_end").select("lib", "ctg", "upos", "strand").distinct()
    )

    # ---- fragment stage: single-end groups; any colliding pair end makes
    # the whole group duplicates, else the best member survives.
    frag_w = F.row_number().over(
        Window.partitionBy("lib", "ctg", "upos", "strand").orderBy(
            F.col("score").desc(), F.col("qname"), F.col("r12")
        )
    )
    frags = sig.filter("frag").select(
        "qname", "r12", "lib", "ctg", "upos", "strand", "score",
        frag_w.alias("rn"),
    )
    dup_frags = (
        frags.join(
            pair_end_sigs.withColumn("has_pair", F.lit(True)),
            ["lib", "ctg", "upos", "strand"],
            "left",
        )
        .filter((F.col("rn") > 1) | F.col("has_pair"))
        .select("qname", "r12")
    )

    # ---- mark join: the only full-row shuffle.  Pair marks apply to both
    # primary mapped ends of the qname; fragment marks to the exact record.
    # Marks are aggregated to EXACTLY ONE row per qname before the join —
    # a left join against a unique key cannot duplicate read rows, even on
    # malformed inputs where a qname carries both pair and fragment marks
    # (or pair rows under two libraries).
    return (
        dup_pair_qnames.select(
            F.col("qname").alias("m_qname"), F.lit(None).cast("int").alias("m_r12")
        )
        .unionByName(
            dup_frags.select(
                F.col("qname").alias("m_qname"), F.col("r12").cast("int").alias("m_r12")
            )
        )
        .groupBy("m_qname")
        .agg(
            F.max(F.col("m_r12").isNull()).alias("m_pair_dup"),
            F.collect_set("m_r12").alias("m_frag_r12s"),
        )
    )


def mark_duplicates(reads: DataFrame, header: SamHeader) -> DataFrame:
    """Return ``reads`` with the 0x400 flag set on every duplicate record
    (and cleared on every non-duplicate), plus a boolean ``is_duplicate``
    column.  Pure DataFrame program — see the module docstring for the
    semantics and the shuffle budget.

    The signature frame is persisted because three decision stages consume
    it (pair assembly, pair-end signatures, fragment ranking): without the
    cache each one re-runs the source decode — the dominant cost for a
    Python-decoded BAM scan.  The cache is the slim projection only
    (~60 bytes/read, spillable), the same trade MarkDuplicatesSpark makes
    by caching its ReadsKey RDD.  The source size is unknown here, so
    ``cache.materialize`` is called with -1 and always takes the persist.
    Cache lifetime: a lazy builder cannot unpersist after itself, so the
    frame is registered with the cache module and released by the harness
    (bench.py / __spark_entry__) once the build's results are drained."""
    flag = F.col("flag")
    mapped_primary = _mapped_primary()
    is_pair_end = (
        mapped_primary
        & (flag.bitwiseAND(_PAIRED) != 0)
        & (flag.bitwiseAND(_MATE_UNMAPPED) == 0)
    )
    is_fragment = mapped_primary & (
        (flag.bitwiseAND(_PAIRED) == 0) | (flag.bitwiseAND(_MATE_UNMAPPED) != 0)
    )
    sig = materialize(_dup_sig(reads, header), -1)
    marks = _dup_marks(sig)
    joined = reads.join(marks, F.col("qname") == F.col("m_qname"), "left")
    is_dup = mapped_primary & (
        # a pair-level mark applies only to pair-end records — never to
        # secondaries/supplementaries or fragments of the same qname
        (F.coalesce(F.col("m_pair_dup"), F.lit(False)) & is_pair_end)
        | (
            is_fragment
            & F.coalesce(
                F.array_contains(
                    F.col("m_frag_r12s"), flag.bitwiseAND(_READ_ORDINAL)
                ),
                F.lit(False),
            )
        )
    )
    new_flag = F.when(is_dup, flag.bitwiseOR(_DUP)).otherwise(
        flag.bitwiseAND(~_DUP & 0xFFFF)
    )
    return joined.select(
        *[
            new_flag.alias("flag") if c == "flag" else F.col(c)
            for c in reads.columns
        ],
        is_dup.alias("is_duplicate"),
    )


def duplicate_flags(
    reads: DataFrame, header: SamHeader, source_bytes: int = -1
) -> DataFrame:
    """Per-read duplicate verdicts WITHOUT the full-row mark join: one row
    per input read — (qname, r12, rname, is_duplicate) — assembled entirely
    from the persisted slim signature frame.

    For consumers that only aggregate over the verdicts (per-contig dup
    stats, QC counters) the full :func:`mark_duplicates` contract forces a
    second pass over the source just to re-attach columns the consumer
    never reads — for a Python-decoded BAM that second decode is the
    dominant cost at every scale (r13: g09 isolated min 2.70 → 1.71 s).
    Here the left side of the mark join is the ~60 B/read signature cache
    itself, so the source is decoded exactly once.

    Equivalence with mark_duplicates' ``is_duplicate``: sig's ``pair_end``
    and ``frag`` booleans partition ``mapped_primary`` by construction
    (each conjoins it), so the outer ``mapped_primary AND`` of the full
    form is implied and the per-branch predicates are evaluated on the
    identical per-row values the full join would see."""
    # materialize (r13 session 5): the slim signature frame has FOUR
    # concurrent consumers here (pair assembly, pair-end signatures,
    # fragment ranking, and the verdict join's left side), so the lazy
    # persist's cold-cache race re-ran the Python BAM decode per branch at
    # drain.  Below the gate a lazy localCheckpoint decodes exactly once
    # (interleaved A/B at sf0.1, all 6 rounds faster: 1.828/2.000 ->
    # 1.357/1.727 s min/med); above it (or with source_bytes unknown, the
    # default) the tracked-persist posture is unchanged.
    sig = materialize(_dup_sig(reads, header), source_bytes)
    marks = _dup_marks(sig)
    joined = sig.join(marks, F.col("qname") == F.col("m_qname"), "left")
    is_dup = (
        F.coalesce(F.col("m_pair_dup"), F.lit(False)) & F.col("pair_end")
    ) | (
        F.col("frag")
        & F.coalesce(
            F.array_contains(F.col("m_frag_r12s"), F.col("r12")), F.lit(False)
        )
    )
    return joined.select(
        "qname", "r12", F.col("ctg").alias("rname"), is_dup.alias("is_duplicate")
    )
