"""Genomic-interval operators, Spark-first.

Reference semantics (tomwhite/disq-original):
- a record matches if its span overlaps ANY interval
  (`sam/TraversalOverlapDetector.java:22-33`);
- unplaced-unmapped records (no contig/position) are additionally admitted
  when the traversal flag is set
  (`HtsjdkReadsTraversalParameters.java:13-30`,
  `sam/AbstractBinarySamSource.java:115-132`).

Two forms of the same test live here.  The indexed sources (BAM, CRAM,
VCF, BCF) collect the caller's small interval list once
(:func:`collect_intervals`), plan their index reads from it, and drop the
records no interval overlaps inside each decode task
(:func:`overlap_test` with the span rules :func:`read_end` and
:func:`variant_end`, which mirror the JVM expressions
``sam.with_alignment_span`` and ``vcf.variant_end``).  Frames that are
already in Spark — SAM text scans, query operators — keep the relational
form: a broadcast left-semi join (:func:`interval_filter`,
:func:`residual_traversal`).
"""

from __future__ import annotations

import re
from bisect import bisect_right
from collections.abc import Callable, Iterable
from itertools import accumulate

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import materialize
from ..sources.bam_codec import cigar_ref_length


def overlaps(
    contig: Column,
    start: Column,
    end: Column,
    i_contig: Column,
    i_start: Column,
    i_end: Column,
) -> Column:
    """1-based closed-interval overlap predicate (htsjdk Locatable semantics)."""
    return (contig == i_contig) & (start <= i_end) & (end >= i_start)


def interval_filter(
    records: DataFrame,
    intervals: DataFrame,
    contig: str = "contig",
    start: str = "start",
    end: str = "end",
    include_unplaced: bool = False,
) -> DataFrame:
    """Keep records overlapping ANY interval (left-semi against a broadcast
    interval list), optionally unioned with unplaced-unmapped records.

    ``intervals`` must have columns (contig, start, end).  Mirrors
    `HtsjdkReadsTraversalParameters` = interval list + unplaced flag; the
    `intervals is None and not unplaced` error is the reference's contract
    (`AbstractBinarySamSource.java:50-54`).
    """
    if intervals is None and not include_unplaced:
        raise ValueError("intervals may not be None when include_unplaced is False")
    matched = None
    if intervals is not None:
        iv = F.broadcast(
            intervals.select(
                F.col("contig").alias("_i_contig"),
                F.col("start").alias("_i_start"),
                F.col("end").alias("_i_end"),
            )
        )
        matched = records.join(
            iv,
            overlaps(
                F.col(contig),
                F.col(start),
                F.col(end),
                F.col("_i_contig"),
                F.col("_i_start"),
                F.col("_i_end"),
            ),
            "left_semi",
        )
    if not include_unplaced:
        return matched
    unplaced = records.filter(F.col(contig).isNull())
    return unplaced if matched is None else matched.unionByName(unplaced)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on_contig: tuple[str, str],
    left_span: tuple[str, str],
    right_span: tuple[str, str],
    bin_size: int | None = None,
    salt: int | None = None,
) -> DataFrame:
    """Interval-overlap inner join.

    Without ``bin_size``: equi-join on contig with range residuals (fine when
    one side is broadcastable).  With ``bin_size``: both sides are replicated
    to the genomic bins their span touches and the join runs on
    (contig, bin) — the standard bucketed range-join that keeps the shuffle
    key selective at 100 TB scale.

    ``salt`` (with ``bin_size``) handles HOT KEYS — a (contig, bin) cell so
    dense one reducer would own most of the shuffle (centromere pileups, a
    dominant event type): left rows get a per-row salt in [0, salt),
    right rows replicate to every salt, and the join key grows to (contig,
    bin, salt) so the hot cell spreads over ``salt`` reducers.  Each pair
    still appears exactly once (at the left row's salt).  Costs ``salt``×
    replication of the right side — use for genuinely skewed keys, not by
    default; AQE's skew-join split handles moderate skew without it.
    """
    lc, rc = on_contig
    ls, le = left_span
    rs, re_ = right_span
    a = left.alias("l")
    b = right.alias("r")
    range_pred = (F.col(f"l.{ls}") <= F.col(f"r.{re_}")) & (
        F.col(f"l.{le}") >= F.col(f"r.{rs}")
    )
    if bin_size is None:
        return a.join(b, (F.col(f"l.{lc}") == F.col(f"r.{rc}")) & range_pred)

    def binned(df: DataFrame, alias: str, c: str, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "_bin",
            F.explode(
                F.sequence(
                    (F.col(s) / bin_size).cast("long"), (F.col(e) / bin_size).cast("long")
                )
            ),
        ).alias(alias)

    ab = binned(left, "l", lc, ls, le)
    bb = binned(right, "r", rc, rs, re_)
    cond = (
        (F.col(f"l.{lc}") == F.col(f"r.{rc}"))
        & (F.col("l._bin") == F.col("r._bin"))
        & range_pred
        # dedup: count the pair only in the first shared bin
        & (
            F.col("l._bin")
            == F.greatest(
                (F.col(f"l.{ls}") / bin_size).cast("long"),
                (F.col(f"r.{rs}") / bin_size).cast("long"),
            )
        )
    )
    if salt is not None and salt > 1:
        # per-row left salt, right replicated to all salts: the hot
        # (contig, bin) cell spreads over `salt` reducers; every pair joins
        # exactly once at the left row's salt.  Two constraints shape the
        # salt expression: it must be per-ROW spread (a hash of only the
        # span column collapses a centromere pileup — thousands of rows
        # share one start — back onto one reducer), and it must be
        # DETERMINISTIC (monotonically_increasing_id/rand change on task
        # recompute, and a nondeterministic value feeding an exchange can
        # drop or duplicate pairs when a stage partially retries — the
        # SPARK-23207 hazard).  Hashing every hashable left column satisfies
        # both: rows identical in all columns are interchangeable, so their
        # collision is harmless.  Map-typed columns (reads `attributes`,
        # variants `info`/`genotypes`) are excluded — hash() rejects
        # MapType; the remaining columns still distinguish real rows.
        hashable = [
            f.name
            for f in left.schema.fields
            if "map<" not in f.dataType.simpleString()
        ] or [ls]
        ab = ab.withColumn(
            "_salt",
            F.pmod(F.hash(*[F.col(c) for c in hashable], F.col("_bin")), F.lit(salt)),
        ).alias("l")
        bb = bb.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))).alias("r")
        cond = cond & (F.col("l._salt") == F.col("r._salt"))
        return ab.join(bb, cond).drop("_bin", "_salt")
    return ab.join(bb, cond).drop("_bin")


def collect_intervals(intervals: DataFrame) -> list[tuple[str, int, int]]:
    """The one action an indexed source runs on a caller's (contig, start,
    end) interval frame: its rows as tuples, for index planning and for the
    in-task :func:`overlap_test`."""
    return [
        (r["contig"], int(r["start"]), int(r["end"]))
        for r in intervals.select("contig", "start", "end").collect()
    ]


def overlap_test(
    rows: Iterable[tuple[str, int, int]],
) -> Callable[[str | None, int | None, int | None], bool]:
    """``hit(contig, start, end)``: does the closed span overlap any of the
    1-based closed ``rows`` on its contig (:func:`overlaps`, with SQL's
    NULL rule — a None contig or bound matches nothing)?

    Built once per read from the collected rows: per contig the interval
    starts sorted, with the running max of their ends, so one ``bisect``
    finds the intervals starting at or before ``end`` and the running max
    says whether any of them reaches ``start``."""
    by_contig: dict[str, list[tuple[int, int]]] = {}
    for c, s, e in rows:
        by_contig.setdefault(c, []).append((s, e))
    table: dict[str, tuple[list[int], list[int]]] = {}
    for c, ivs in by_contig.items():
        ivs.sort()
        table[c] = ([s for s, _e in ivs], list(accumulate((e for _s, e in ivs), max)))

    def hit(contig: str | None, start: int | None, end: int | None) -> bool:
        t = table.get(contig)
        if t is None or start is None or end is None:
            return False
        k = bisect_right(t[0], end)
        return k > 0 and t[1][k - 1] >= start

    return hit


# Spark's string -> bigint ``try_cast`` trims bytes <= 0x20 and 0x7F from
# both ends, then accepts an optional sign and ASCII digits, within int64
_TRIM = "".join(map(chr, range(0x21))) + "\x7f"
_LONG = re.compile(r"[+-]?[0-9]+")


def try_long(s: str | None) -> int | None:
    """Spark's ``try_cast(s AS bigint)`` of a string: None where Spark
    returns NULL (``"12.0"``, ``"1e2"``, ``"1_000"``, non-ASCII digits,
    overflow)."""
    if s is None:
        return None
    if s.isascii() and s.isdigit() and len(s) < 19:
        return int(s)  # the common case: unsigned, within int64
    s = s.strip(_TRIM)
    if not _LONG.fullmatch(s):
        return None
    v = int(s)
    return v if -(1 << 63) <= v < (1 << 63) else None


# Spark's string -> double ``try_cast`` is Java's ``Double.parseDouble``
# (trims chars <= 0x20; ASCII digits; an optional trailing f/F/d/D; hex
# significands with a binary exponent; exact-case ``NaN``/``Infinity``),
# then, where that throws, the literals below after the same trim, any case
_JAVA_TRIM = "".join(map(chr, range(0x21)))
_JAVA_DEC = re.compile(r"([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)[fFdD]?")
_JAVA_HEX = re.compile(
    r"([+-]?0[xX](?:[0-9a-fA-F]+\.?|[0-9a-fA-F]*\.[0-9a-fA-F]+)[pP][+-]?[0-9]+)[fFdD]?"
)
_SPARK_FLOAT_LITERALS = {
    "inf": float("inf"), "+inf": float("inf"), "infinity": float("inf"),
    "+infinity": float("inf"), "-inf": float("-inf"), "-infinity": float("-inf"),
    "nan": float("nan"),
}


def try_double(s: str | None) -> float | None:
    """Spark's ``try_cast(s AS double)`` of a string: None where Spark
    returns NULL.  Not Python's ``float()``, which differs both ways:
    Spark takes ``1d`` and ``0x1p3``, Python ``1_0``, non-ASCII digits and
    Unicode whitespace."""
    if s is None:
        return None
    t = s.strip(_JAVA_TRIM)
    m = _JAVA_DEC.fullmatch(t)
    if m:
        return float(m.group(1))
    m = _JAVA_HEX.fullmatch(t)
    if m:
        try:
            return float.fromhex(m.group(1))
        except OverflowError:
            return float("-inf") if t[0] == "-" else float("inf")
    body = t[1:] if t[:1] in ("+", "-") else t
    if body == "NaN":
        return float("nan")
    if body == "Infinity":
        return float(t)
    return _SPARK_FLOAT_LITERALS.get(t.lower())


def read_end(pos: int | None, cigar: str | None) -> int | None:
    """1-based inclusive alignment end, as ``sam.with_alignment_span``:
    ``pos`` for a ``*``/None CIGAR or one consuming no reference, else
    ``pos`` + the M/D/N/=/X length - 1."""
    if pos is None or cigar is None or cigar == "*":
        return pos
    n = cigar_ref_length(cigar)
    return pos if n == 0 else pos + n - 1


def variant_end(pos: int | None, ref: str | None, info_end: str | None) -> int | None:
    """1-based inclusive variant end, as ``vcf.variant_end``: the INFO
    ``END`` value (the last one on the line) when it casts to a long, else
    ``pos + len(ref) - 1``."""
    end = try_long(info_end)
    if end is not None or pos is None or ref is None:
        return end
    return pos + len(ref) - 1


def read_keeper(
    iv_rows: list[tuple[str, int, int]] | None, include_unplaced: bool
) -> Callable[[dict], bool] | None:
    """The traversal a reads decode task applies to each decoded row (it
    needs ``flag``, ``rname``, ``pos`` and ``cigar``): placed reads whose
    span overlaps an interval, and with ``include_unplaced`` the
    unplaced-unmapped reads (unmapped flag and no ``rname`` or ``pos`` 0).
    None when there is nothing to drop."""
    if iv_rows is None and not include_unplaced:
        return None
    hit = overlap_test(iv_rows or ())

    def keep(row: dict) -> bool:
        pos = row["pos"]
        if row["flag"] & 4 and (row["rname"] is None or pos == 0):
            return include_unplaced
        return hit(row["rname"], pos, read_end(pos, row["cigar"]))

    return keep


#: what :func:`read_keeper` reads from a decoded row
READ_SPAN_FIELDS = frozenset({"flag", "rname", "pos", "cigar"})


def residual_traversal(
    reads: DataFrame, intervals: DataFrame | None, include_unplaced: bool
) -> DataFrame:
    """Residual selection of a SAM text scan, which the JVM decodes and
    which has no index: interval overlap filter over placed reads,
    optionally unioned with unplaced-unmapped records — the relational
    twin of :func:`read_keeper`, which the Python-decoded reads sources
    apply inside their tasks."""
    # runtime import: sources.sam imports this module at load time
    from ..sources.sam import (
        FLAG_UNMAPPED,
        READS_COLUMNS,
        schema_ordered,
        with_alignment_span,
    )

    if intervals is None and not include_unplaced:
        return reads
    spanned = with_alignment_span(reads)
    # Unplaced-unmapped: unmapped flag AND no position (rname NULL, pos 0) —
    # admitted only when the traversal flag is set
    # (`sam/TraversalOverlapDetector.java:22-33`).
    unplaced_pred = (F.col("flag").bitwiseAND(FLAG_UNMAPPED) != 0) & (
        F.col("rname").isNull() | (F.col("pos") == 0)
    )
    selected = None
    if intervals is not None:
        placed = spanned.filter(~unplaced_pred)
        selected = interval_filter(
            placed.withColumnRenamed("rname", "contig")
            .withColumnRenamed("pos", "start")
            .withColumnRenamed("end_pos", "end"),
            intervals,
        )
        selected = (
            selected.withColumnRenamed("contig", "rname")
            .withColumnRenamed("start", "pos")
            .withColumnRenamed("end", "end_pos")
        )
    if include_unplaced:
        unplaced = spanned.filter(unplaced_pred)
        selected = unplaced if selected is None else selected.unionByName(unplaced)
    # intersection, not READS_COLUMNS verbatim: a column-pruned source
    # frame (BamSource.read(columns=...)) carries a schema subset
    return selected.select(*schema_ordered(READS_COLUMNS, reads.columns))


def merge_intervals(
    df: DataFrame,
    contig: str = "contig",
    start: str = "start",
    end: str = "end",
    max_gap: int = 0,
) -> DataFrame:
    """``bedtools merge`` equivalent: coalesce intervals per contig into
    maximal islands.  Closed-interval coordinates; ``max_gap`` is bedtools'
    ``-d``: intervals separated by at most that many uncovered bases merge.
    The default 0 merges overlapping AND book-ended features ([1,100] +
    [101,150] — adjacent BED records — become one island), exactly
    bedtools' default; pass ``max_gap=-1`` to merge only genuinely
    point-sharing intervals.

    Classic distributed gaps-and-islands: intervals sort within their
    contig; an interval opens a new island iff its start exceeds the
    running max end of everything before it by more than ``max_gap + 1``;
    the island id is the running count of openings; one aggregate per
    island emits (start, end, count).

    Scale shape: ONE hash exchange on contig feeding a per-contig sort,
    and the island aggregate reuses that partitioning (islands never span
    contigs).  Genomes have O(100) contigs, so per-contig windows spread
    across a cluster the way p07's shard sorts do; a single pathological
    contig would call for range-partitioning on (contig, start) with
    boundary fix-up — the TeraSort refinement — which this operator's
    contract (sorted, disjoint islands) admits without API change.

    Output: contig, merged_start, merged_end, n_intervals.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(contig).orderBy(start, end)
    prev_max = F.max(end).over(w.rowsBetween(Window.unboundedPreceding, -1))
    opens = (prev_max.isNull() | (F.col(start) > prev_max + max_gap + 1)).cast("long")
    island = F.sum(opens).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        df.withColumn("_island", island)
        .groupBy(contig, "_island")
        .agg(
            F.min(start).alias("merged_start"),
            F.max(end).alias("merged_end"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .drop("_island")
    )


def subtract_intervals(
    a: DataFrame,
    b: DataFrame,
    contig: str = "contig",
    start: str = "start",
    end: str = "end",
    bin_size: int | None = None,
    low: int = 0,
    high: int = 1 << 62,
) -> DataFrame:
    """``bedtools subtract`` equivalent: remove from every ``a`` interval the
    regions covered by ANY ``b`` interval (closed-interval arithmetic),
    emitting the surviving fragments.

    Implemented as complement-and-intersect — a composition of this
    module's own primitives rather than a per-row loop:

    1. ``b`` coalesces into disjoint islands (:func:`merge_intervals`);
    2. the islands' complement becomes gap intervals via a per-contig
       ``lag`` window ([low, first), between-islands, (last, high]);
    3. fragments = ``a`` ⨝ gaps with the binned :func:`interval_join`,
       clamped map-side to ``[max(starts), min(ends)]``;
    4. ``a`` rows on contigs with no ``b`` at all pass through whole via a
       broadcast-able anti join on the tiny distinct-contig set.

    Scale shape: the merge is one contig exchange; gaps add a same-keyed
    window (reusing that exchange); the intersect is the bucketed range
    join (never a nested loop); the clamp is codegen.  Fragment count
    equals overlap-pair count — no blowup beyond the true output size.
    Closed-interval convention matches htsjdk Locatable (g16).

    Cache note: the merged-island frame persists (3 plan branches consume
    it) and, this being a lazy builder, stays cached until session end or
    ``spark.catalog.clearCache()`` — bounded by |b| slim rows per call;
    long-lived sessions subtracting many inputs should clear between runs.
    """
    from pyspark.sql import Window

    # persist: the between-gaps window, the tail-gap aggregate and the
    # no-b anti join all consume the merged islands — without it the
    # merge's shuffle+window re-executes per branch.  Islands are ≤ |b|
    # slim rows, so the cache is bounded by the smaller input.  The source
    # size is unknown here (-1), so it always takes the persist.
    bm = materialize(merge_intervals(b, contig=contig, start=start, end=end), -1)
    w = Window.partitionBy(contig).orderBy("merged_start")
    prev_end = F.lag("merged_end").over(w)
    between = bm.select(
        contig,
        F.coalesce(prev_end + 1, F.lit(low)).alias("gap_start"),
        (F.col("merged_start") - 1).alias("gap_end"),
    )
    tail = bm.groupBy(contig).agg(
        (F.max("merged_end") + 1).alias("gap_start"), F.lit(high).alias("gap_end")
    )
    # clamp to [low, high]: with bin_size the join replicates every gap to
    # each bin it touches, so an unbounded tail gap would explode into
    # high/bin_size rows — callers pass the (known) universe bounds
    gaps = (
        between.unionByName(tail)
        .select(
            contig,
            F.greatest("gap_start", F.lit(low)).alias("gap_start"),
            F.least("gap_end", F.lit(high)).alias("gap_end"),
        )
        .filter(F.col("gap_start") <= F.col("gap_end"))
    )

    joined = interval_join(
        a,
        gaps.withColumnRenamed(contig, "_gcontig"),
        on_contig=(contig, "_gcontig"),
        left_span=(start, end),
        right_span=("gap_start", "gap_end"),
        bin_size=bin_size,
    )
    frags = joined.select(
        *[F.col(f"l.{c}").alias(c) for c in a.columns],
        F.greatest(F.col(f"l.{start}"), F.col("r.gap_start")).alias("frag_start"),
        F.least(F.col(f"l.{end}"), F.col("r.gap_end")).alias("frag_end"),
    )
    # contigs with no b coverage at all: every a interval survives whole
    no_b = a.join(
        F.broadcast(bm.select(contig).distinct()), contig, "left_anti"
    ).select(
        *a.columns,
        F.col(start).alias("frag_start"),
        F.col(end).alias("frag_end"),
    )
    return frags.unionByName(no_b)


def closest_intervals(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
    contig: str = "contig",
    start: str = "start",
    end: str = "end",
    bin_size: int | None = None,
) -> DataFrame:
    """``bedtools closest`` equivalent: for every ``a`` interval, the ``b``
    interval at minimum distance (0 when overlapping; ties broken by the
    smallest ``(distance, b_start, b_end)``), with the distance.  ``a``
    intervals on contigs with no ``b`` at all keep NULL b columns — the
    '.' rows bedtools prints.

    Distributed shape — never an all-pairs join:

    - overlapping candidates come from the binned :func:`interval_join`
      (distance 0, leftmost b per a);
    - the nearest non-overlapping LEFT candidate comes from one union-sort
      sweep per contig: a and b rows interleave ordered by (b_end | a_start)
      and a running ``last(b)`` window hands each a row the rightmost b
      that ended before it — the same union-and-window shape as the as-of
      join (q34), one shuffle, no join node;
    - the RIGHT candidate mirrors it on (b_start | a_end) descending;
    - a 3-way ``least``-struct pick per a row resolves the winner.

    The windows are ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW with
    ``last(..., ignorenulls)`` — running state, not a re-scan; per-contig
    ordering is the one sort any nearest-neighbor sweep needs.
    """
    from pyspark.sql import Window

    bcols = F.struct(F.col("_bs").alias("b_s"), F.col("_be").alias("b_e"))

    def sweep(val_a: str, val_b: str, descending: bool, tiebreak_neg: str) -> DataFrame:
        """Union a+b, order by the sweep value, hand each a row the last b
        seen.  ``tiebreak_neg`` orders equal-valued b rows so the LAST one
        is the contract winner (negate to keep the smallest)."""
        au = a.select(
            F.col(id_col).alias("_aid"),
            F.col(contig).alias("_c"),
            F.col(val_a).alias("_v"),
            F.lit(1).alias("_flag"),
            F.lit(None).cast("long").alias("_bs"),
            F.lit(None).cast("long").alias("_be"),
            F.lit(0).cast("long").alias("_tb"),
        )
        bu = b.select(
            F.lit(None).cast(a.schema[id_col].dataType).alias("_aid"),
            F.col(contig).alias("_c"),
            F.col(val_b).alias("_v"),
            F.lit(0).alias("_flag"),
            F.col(start).cast("long").alias("_bs"),
            F.col(end).cast("long").alias("_be"),
            (-F.col(tiebreak_neg)).cast("long").alias("_tb"),
        )
        order = [
            F.col("_v").desc() if descending else F.col("_v").asc(),
            F.col("_flag").asc(),
            F.col("_tb").asc(),
        ]
        w = (
            Window.partitionBy("_c")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            au.unionByName(bu)
            .withColumn("_cand", F.last(F.when(F.col("_flag") == 0, bcols), ignorenulls=True).over(w))
            .filter(F.col("_flag") == 1)
            .select(F.col("_aid").alias(id_col), "_cand")
        )

    # nearest b fully to the LEFT: sweep on (b_end | a_start) ascending;
    # among b's with equal end the smallest start must win, so they order
    # by start DESC (negated tiebreak) and last() lands on the smallest
    left = sweep(start, end, descending=False, tiebreak_neg=start)
    # nearest b fully to the RIGHT: sweep on (b_start | a_end) descending;
    # equal-start b's order by end DESC so last() lands on the smallest end
    right = sweep(end, start, descending=True, tiebreak_neg=end)

    ov = interval_join(
        a,
        b.select(
            F.col(contig).alias("_oc"),
            F.col(start).alias("_os"),
            F.col(end).alias("_oe"),
        ),
        on_contig=(contig, "_oc"),
        left_span=(start, end),
        right_span=("_os", "_oe"),
        bin_size=bin_size,
    )
    overlap = (
        ov.select(F.col(f"l.{id_col}").alias(id_col), F.col("r._os").alias("b_s"), F.col("r._oe").alias("b_e"))
        .groupBy(id_col)
        .agg(F.min(F.struct("b_s", "b_e")).alias("_cand"))
        .select(id_col, "_cand")
    )

    def dist(cand: F.Column) -> F.Column:
        return F.greatest(
            F.lit(0).cast("long"),
            F.greatest(cand["b_s"] - F.col(end), F.col(start) - cand["b_e"]),
        )

    withc = (
        a.join(overlap.withColumnRenamed("_cand", "_co"), id_col, "left")
        .join(left.withColumnRenamed("_cand", "_cl"), id_col, "left")
        .join(right.withColumnRenamed("_cand", "_cr"), id_col, "left")
    )

    def keyed(cand: F.Column) -> F.Column:
        # (distance, b_s, b_e) — the documented tiebreak.  Absent candidates
        # stay NULL and Spark's least() SKIPS NULL inputs (it returns the
        # smallest non-null); the pick is only NULL when all three are —
        # the no-b-on-contig row.  No sentinel needed, but a port to an
        # engine whose LEAST propagates NULL would need one.
        return F.when(
            cand.isNotNull(),
            F.struct(
                dist(cand).alias("d"), cand["b_s"].alias("b_s"), cand["b_e"].alias("b_e")
            ),
        )

    best = F.least(keyed(F.col("_co")), keyed(F.col("_cl")), keyed(F.col("_cr")))
    return withc.select(
        *a.columns,
        best["b_s"].alias("b_s"),
        best["b_e"].alias("b_e"),
        best["d"].alias("distance"),
    )
