"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is executed as Spark would in production: full plan execution with
results drained (count on the final DataFrame) — no .collect() of big results
to the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from disq_original_spark.cache import release_persists  # noqa: E402
from disq_original_spark.queries import QUERIES  # noqa: E402
from disq_original_spark.session import get_spark  # noqa: E402
from disq_original_spark.tables import load_table  # noqa: E402

# Headline set: one per operator family — scans/joins/aggs/windows/sets/
# strings/intervals + the training-data ops.
HEADLINE = [
    "q02_filter",
    "q04_inner_join",
    "q05_broadcast_join",
    "q09_range_join",
    "q10_hash_aggregate",
    "q11_distinct_aggregate",
    "q15_window_rank",
    "q18_topk",
    "q20_intersect",
    "q24_math",
    "q30_tumbling_window",
    "q34_asof_join",
    "q35_tpch_q3",  # join-reorder path
    "q36_tpch_q5",
    "g01_interval_filter",
    "g05_binned_interval_join",
    "g08_skewed_interval_join",  # hot-key salted join path
    "st01_stream_tumbling",  # streaming pipeline (availableNow drain)
    "d01_exact_dedup",
    "d03_minhash_lsh",
    "d04_ngram_jaccard",
    "d05_embedding_neardup",
    "d06_simhash",
    "d07_dup_clusters",
    "d08_dup_span_coverage",  # window-hash shuffle path
    "s01_knn_bruteforce",
    "s03_ann_ivf",
    "t02_quality_score",
    "t05_bpe_tokens",  # regex-heavy tokenizer path
    "t06_winnow_fingerprint",
    "t08_gopher_repetition",  # explode + two-level hash agg path
    "t09_contamination",  # HOF shingling + broadcast semi-ish join path
    "p01_sequence_packing",  # applyInPandas grouped-map path
    "s04_kmeans_update",  # broadcast-NL assign + transpose agg path
    # round-3 additions (first benched round 4; r1-r3 carried set above is
    # unchanged so round-over-round totals stay comparable on it)
    "d10_semdedup",  # per-cluster numpy gram path
    "d11_paragraph_dedup",  # slim paragraph-hash exchange path
    "s07_knn_graph",  # per-bucket gram + vectorized top-k path
    "t13_bm25",  # distributed vocabulary scoring path
    "t15_fuzzy_join",  # q-gram blocking + levenshtein confirm path
    "q47_tpch_q21",  # multi-semi/anti-join path
    "q48_cdc_upsert",  # window-latest upsert path
    "m04_phash_neardup",  # pHash band-LSH over binary payloads
    "g09_mark_duplicates",  # dupmark over the real BAM fixture
    "s09_nn_descent_round",  # edge-list local-join + exact re-rank path
    "d14_lsh_estimate_audit",  # persisted sig/hash reuse + exact-Jaccard path
    # round-5 additions
    "t17_heavy_hitters",  # MG candidate sketch + broadcast-semi recount path
    "t18_chunk_windows",  # no-shuffle scan->explode chunking path
    "t19_keyword_tfidf",  # distributed-vocabulary tf/df + per-doc top-k path
    # round-11 additions (VERDICT r10 task #6): the r10 TPC-H shapes carry
    # plan contracts but had no timings; Q8's seven-relation broadcast
    # tree is exactly the shape that drifts when AQE thresholds change
    "q56_tpch_q12",  # cross-table residual predicate path
    "q57_tpch_q19",  # disjunctive-pushdown rewrite path
    "q58_tpch_q8",  # seven-relation broadcast-tree path
    # round-12 additions (VERDICT r11 task #6): the r11 TPC-H shapes; q59's
    # two-broadcast + residual-pair plan is the one that drifts if the
    # per-alias nation prefilter rewrite ever regresses
    "q59_tpch_q7",  # cross-alias OR prefilter + residual-pair path
    "q60_tpch_q10",  # dual fact-filter + TakeOrderedAndProject path
    "q61_tpch_q14",  # month-slice conditional-aggregate ratio path
    # round-12 completions: with q62-q67 every TPC-H query shape the suite
    # maps to has a per-round timing (Q2/Q9/Q11/Q16 over the derived
    # part-supplier relation — the testdata has no partsupp)
    "q62_tpch_q6",  # pure scan-aggregate pushdown path
    "q63_tpch_q4",  # semi join with cross-table residual path
    "q64_tpch_q9",  # five-relation profit rollup path
    "q65_tpch_q2",  # derived-ps argmin + WindowGroupLimit path
    "q66_tpch_q11",  # scalar-threshold over reduced rows path
    "q67_tpch_q16",  # distinct-pairs + anti-join path
]

# VERDICT r3 directive #3: d04's r3 number was 1.59x its r2 sample while
# d06/d07 drifted the same direction — min-of-5 (2 shared passes + 3 extra)
# separates shared-box drift from a real postings-cost regression.
# VERDICT r4 directives #6/#7: the round-3/4 heavyweights (s09/d14/t15) get
# min-of-5 to establish stable baselines before round 6 compares against
# them, and q09_range_join (1.41x vs r3, 1.16x vs r1 — drift-band) joins
# the set to settle whether its drift is real.
_EXTRA_PASSES = {
    "d04_ngram_jaccard": 3,
    "d06_simhash": 3,
    "d07_dup_clusters": 3,
    "s09_nn_descent_round": 3,
    "d14_lsh_estimate_audit": 3,
    "t15_fuzzy_join": 3,
    "q09_range_join": 3,
    # r6: queries whose code changed this round (t17 runtime guard,
    # d03 selective-eager persist) get min-of-5 so their first
    # post-change driver numbers are drift-robust baselines for round 7
    "t17_heavy_hitters": 3,
    "d03_minhash_lsh": 3,
    # r9: t06/st01 sat at 1.21x/1.19x normalized in BENCH_r08 with ZERO
    # code or plan changes since their baselines (verified: no r8 diff
    # touches textops/streamq) — min-of-5 makes their future driver
    # numbers drift-robust instead of min-of-2
    "t06_winnow_fingerprint": 3,
    "st01_stream_tumbling": 3,
    # r9 de-vacuity fix changed q20's work (selective filters on both
    # intersect sides) — min-of-5 for a drift-robust fresh baseline
    "q20_intersect": 3,
    # r12 changed-work entries (the r6 precedent): q58 lost its supplier
    # broadcast hint, t09 converted to exact integer division, and the
    # two heaviest TPC-H completions take their FIRST timings — min-of-5
    # makes their first post-change driver numbers drift-robust baselines
    "q58_tpch_q8": 3,
    "t09_contamination": 3,
    "q65_tpch_q2": 3,
    "q67_tpch_q16": 3,
}


# --- Canary normalization (VERDICT r7 directive #7) -----------------------
# The shared bench box drifts ~1.2-1.6x between driver rounds UNIFORMLY
# across untouched queries, so raw ratio-to-baseline conflates box load
# with real regressions.  The canaries below are trivial relational
# queries whose code AND plans are unchanged since round 1; the median of
# their ratio-to-r1 is the run's drift factor, and every query's
# "normalized" time is raw/drift — box-load-corrected seconds the driver's
# BENCH_rN.json can compare round-over-round mechanically (previously this
# separation was reconstructed by narrative in SCALE.md each round).
# Values: the committed BENCH_r01.json driver run at sf0.1.
#
# LIMITATION (measured r10): the canaries are light single-stage queries,
# so under NEIGHBOR load on the shared box they under-state the slowdown
# of heavy all-32-core entries (observed: q10 at 1.0x while s09/d14 read
# 1.4-1.7x during an external load spike with zero code changes and no
# stray local JVMs).  A normalized ratio >1.25 on a heavy entry is only
# actionable when the same run's OTHER heavy entries do not move with it.
#
# A canary whose CODE later changes is retired from live drift estimation
# (it no longer measures pure box load) but remains valid for recomputing
# the r5-r7 historical baselines, where its code was still unchanged —
# _CANARY_RETIRED maps name -> first round whose measurement must NOT use
# it.
_CANARY_RETIRED = {
    # r9 de-vacuity fix gave q20 selective filters (less work than r1)
    "q20_intersect": 9,
    # r11 float->integer-cents conversions (p05 pattern) changed both
    # aggregation bodies; they no longer measure pure box load
    "q10_hash_aggregate": 11,
    "q30_tumbling_window": 11,
}
_CANARY_R1 = {
    "q02_filter": 0.234,
    "q04_inner_join": 0.367,
    "q05_broadcast_join": 0.531,
    "q10_hash_aggregate": 0.465,
    "q11_distinct_aggregate": 0.321,
    "q15_window_rank": 0.502,
    "q18_topk": 0.253,
    "q20_intersect": 0.521,
    "q24_math": 0.483,
    "q30_tumbling_window": 0.405,
    "g01_interval_filter": 0.285,
}

# LIMITATION companion (VERDICT r10 task #2): the light canaries above
# finish in fractions of a second and barely contend for cores, so under
# external neighbor load they stay ~flat while all-32-core entries
# inflate 1.4-1.7x — the r10 headline (58.5 s, drift 0.976) understated
# real box pressure.  These HEAVY canaries are all-core, plan-stable,
# CODE-FROZEN entries (d04 pinned by the r10 min-of-5 audit as exactly
# reproducible; s09's NN-Descent round unchanged since r7); their
# reference values are raw r5-r7 medians (the same honest window as
# _BASELINE_NORM_MEDIAN).  canary_drift_heavy >> canary_drift means the
# box is loaded: heavy entries' light-normalized ratios inflate by about
# (drift_heavy / drift) with no code change — divide that out before
# calling a heavy regression real.  A heavy canary whose code changes
# retires via _CANARY_RETIRED like any other.
_CANARY_HEAVY = {
    "d04_ngram_jaccard": 2.141,
    "s09_nn_descent_round": 2.756,
}

# Per-query honest baseline: each committed driver round BENCH_r05..r07
# (the first three run entirely under the cache-hygiene policy —
# release_persists + clearCache between entries, VERDICT r4, so no number
# is flattered by another query's resident cache) is first normalized by
# ITS OWN canary drift, then the per-query MEDIAN across the three rounds
# is taken.  Median-of-normalized centers unchanged queries at
# ratio_normalized == 1.0 (min-of-rounds would be the best of three
# drifty samples and inflate every ratio ~1.2x).  Sanity fold: BENCH_r07
# against this table gives median ratio 1.04, worst 1.30, d04 1.09,
# d07 1.00.  "ratio_normalized" = normalized / this table; ~1.0 is box
# drift, sustained >1.25 is a real regression that warrants a plan audit.
_BASELINE_NORM_MEDIAN = {
    "q02_filter": 0.2, "q04_inner_join": 0.348,
    "q05_broadcast_join": 0.469, "q09_range_join": 0.676,
    "q10_hash_aggregate": 0.47, "q11_distinct_aggregate": 0.334,
    "q15_window_rank": 0.517, "q18_topk": 0.258,
    "q24_math": 0.483, "q30_tumbling_window": 0.442,
    "q34_asof_join": 0.749, "q35_tpch_q3": 0.914, "q36_tpch_q5": 1.427,
    "g01_interval_filter": 0.235, "g05_binned_interval_join": 0.948,
    "g08_skewed_interval_join": 1.387, "st01_stream_tumbling": 1.523,
    "d01_exact_dedup": 0.396, "d03_minhash_lsh": 1.162,
    "d04_ngram_jaccard": 2.486, "d05_embedding_neardup": 0.646,
    "d06_simhash": 1.082, "d07_dup_clusters": 2.69,
    "d08_dup_span_coverage": 1.833, "s01_knn_bruteforce": 0.85,
    "s03_ann_ivf": 1.207, "t02_quality_score": 0.815,
    "t05_bpe_tokens": 0.822, "t06_winnow_fingerprint": 1.102,
    "t08_gopher_repetition": 1.234, "t09_contamination": 2.027,
    "p01_sequence_packing": 0.88, "s04_kmeans_update": 1.199,
    "d10_semdedup": 1.062, "d11_paragraph_dedup": 1.341,
    "s07_knn_graph": 0.881, "t13_bm25": 1.529, "t15_fuzzy_join": 1.989,
    "q47_tpch_q21": 1.737, "q48_cdc_upsert": 0.817,
    "m04_phash_neardup": 1.408, "g09_mark_duplicates": 2.063,
    "s09_nn_descent_round": 3.2, "d14_lsh_estimate_audit": 3.921,
    "t17_heavy_hitters": 1.224, "t18_chunk_windows": 0.777,
    "t19_keyword_tfidf": 1.546, "io_bam_read": 0.358,
    "io_cram_read": 0.289, "io_vcf_bgzf_read": 0.41,
    "io_bam_write": 0.414, "io_bcf_read": 0.668,
    "io_fastq_read": 0.289, "io_fasta_read": 0.254,
    "io_cram31_write": 0.376,
}

# Entries whose MEASUREMENT DEFINITION changed after the baseline rounds
# — comparing them against r5-r7 numbers would bake in a stale
# methodology (r8 review finding: io_cram31_read moved from a 1-task
# default split to split_size=28K/~4 tasks in r8, roughly 2x faster by
# construction; a ratio vs the old number would read ~0.5 and mask a
# future real regression).  Each maps to the round whose BENCH artifact
# first measures the current definition; re-baseline from that round
# once enough post-change driver rounds exist.
_BASELINE_REDEFINED = {
    "io_cram31_read": 8,
    # r9 de-vacuity fix: both intersect sides gained selective filters
    # (the old form compared two FK-complete key sets — constant 1..100
    # output); the query now does different (less) work, so ratios vs
    # the r5-r7 numbers would read ~low and mask future regressions
    "q20_intersect": 9,
}
# NOT in _BASELINE_REDEFINED, by design: d04/d07's raw times stepped at
# round 5 when the cache-hygiene policy (release persists + clearCache
# after the warm pass) took effect — i.e. their MEASUREMENT changed in
# r5, but the _BASELINE_NORM_MEDIAN window (r5-r7) already post-dates
# that change, so the normalized ratios the driver reads are computed
# against the honest definition (both sit ~1.0 there).  Only the raw
# ratio vs the committed r1 numbers carries the stale pre-r5 definition;
# the r10 min-of-5 audit (SCALE.md 'd04/d07 re-bench') pins the proof —
# d04 reproduces its r1 number exactly under the r1-era warm-persist
# protocol.


def _canary_normalize(
    timings: dict[str, float], sf: float, at_round: int | None = None
) -> dict:
    """Drift factor + normalized seconds + ratio-to-baseline, or {} when
    the run is not at the baselines' scale factor (sf0.1).

    ``at_round`` makes retirement round-aware for HISTORICAL replays
    (tests folding committed BENCH_r* artifacts): a canary retired at
    round N still measured pure box load in rounds < N, so a replay of
    round M applies only retirements with round <= M.  Live runs pass
    None — every retirement applies."""
    import statistics

    if abs(sf - 0.1) > 1e-9:
        return {}

    def live(c: str) -> bool:
        r = _CANARY_RETIRED.get(c)
        return r is None or (at_round is not None and at_round < r)

    ratios = [
        timings[c] / r1 for c, r1 in _CANARY_R1.items() if c in timings and live(c)
    ]
    if len(ratios) < 5:
        return {}
    drift = round(statistics.median(ratios), 3)
    normalized = {k: round(v / drift, 3) for k, v in timings.items()}
    ratio = {
        k: round(normalized[k] / b, 3)
        for k, b in _BASELINE_NORM_MEDIAN.items()
        if k in normalized
    }
    ratio = dict(sorted(ratio.items(), key=lambda kv: -kv[1]))
    out = {
        "canary_drift": drift,
        "normalized": normalized,
        "ratio_normalized": ratio,
    }
    heavy = [
        timings[c] / ref for c, ref in _CANARY_HEAVY.items() if c in timings and live(c)
    ]
    if heavy:
        out["canary_drift_heavy"] = round(statistics.median(heavy), 3)
    return out


# The driver keeps only the LAST 2000 characters of bench output and
# parses the JSON line it finds there.  BENCH_r08.json recorded
# parsed=null because the r8 line carried the two full 57-entry
# normalization dicts (~5 KB) and outgrew that window — the round's
# bench numbers were lost.  The final line must always fit; full
# normalization detail travels in the BENCH_NORMALIZED.json sidecar.
# The hard guard is test_bench_normalize.py's two-tier pin over the LIVE
# entry set (HEADLINE + _IO_ENTRIES): the mandatory dict at 3-decimal
# worst case must fit the budget outright (no driver round can be lost),
# and at the ladder's 1-decimal rounding floor it must keep 10% headroom
# (entry growth trips CI while plenty of window remains).
_LINE_BUDGET = 1900

# Names _io_benchmarks emits, in emission order — module-level so the
# line-budget test measures the live entry set, not a stale snapshot.
_IO_ENTRIES = (
    "io_bam_read", "io_cram_read", "io_vcf_bgzf_read", "io_bam_write",
    "io_cram31_write", "io_cram31_read", "io_bcf_read", "io_fastq_read",
    "io_fasta_read", "io_sam_read",
)


def _final_line(timings: dict[str, float], sf: float, norm: dict) -> str:
    """Build the ONE driver-facing JSON line: the contract fields plus
    (when they fit) the drift scalar and the worst-3 normalized ratios;
    optional fields are dropped (worst-ratios first) sooner than exceed
    _LINE_BUDGET, then query seconds round to 2 and then 1 decimals.
    The ladder cannot shrink the mandatory 'queries' dict itself — the
    live-entry-set headroom test is what keeps that inside budget."""
    out = {
        "metric": "headline_total_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if norm:
        out["canary_drift"] = norm["canary_drift"]
        if "canary_drift_heavy" in norm:
            out["canary_drift_heavy"] = norm["canary_drift_heavy"]
        out["norm_worst"] = dict(list(norm["ratio_normalized"].items())[:3])
    compact = {"separators": (",", ":")}
    line = json.dumps(out, **compact)
    for drop in ("norm_worst", "canary_drift_heavy", "canary_drift"):
        if len(line) <= _LINE_BUDGET:
            break
        out.pop(drop, None)
        line = json.dumps(out, **compact)
    for ndigits in (2, 1):
        if len(line) <= _LINE_BUDGET:
            break
        out["queries"] = {k: round(v, ndigits) for k, v in timings.items()}
        line = json.dumps(out, **compact)
    return line


RES = Path("/root/reference/src/test/resources")


def _io_benchmarks(spark) -> dict:
    """Format-layer read throughput over the reference's own fixtures — the
    reference IS an IO library, so the headline measures its core function:
    splittable BAM (guesser path), CRAM (full decode), BGZF VCF."""
    if not RES.exists():
        # fail loudly: an empty result would drop all of _IO_ENTRIES from
        # the line without a trace
        raise FileNotFoundError(f"io benchmark fixtures not found: {RES}")
    out: dict = {}
    from disq_original_spark.sources.bam import BamSource
    from disq_original_spark.sources.cram import CramSource
    from disq_original_spark.sources.vcf import VcfSource

    # Split sizes put each fixture in 2 tasks: decode throughput with the
    # split path still exercised.  (At 64 KB the 600 KB fixture became 10
    # tasks and the timing measured Python-worker startup, not decode —
    # splittability correctness is pinned in tests, not here.)
    jobs = {
        "io_bam_read": lambda: BamSource()
        .read(spark, str(RES / "1.bam"), split_size=300 * 1024)
        .count(),
        "io_cram_read": lambda: CramSource()
        .read(spark, str(RES / "valid.cram"), reference_path=str(RES / "valid.fasta"))
        .count(),
        # a count reads no column: the tasks skip the INFO/FORMAT parse
        "io_vcf_bgzf_read": lambda: VcfSource()
        .read(spark, str(RES / "HiSeq.10000.vcf.bgz"), split_size=256 * 1024, columns=["pos"])
        .count(),
    }
    for name, job in jobs.items():
        job()  # warm pass: codegen + page cache (same policy as HEADLINE)
        # min-of-3 timed passes: the io entries run a ~600 KB fixture in 2
        # tasks, so absolute deltas are 0.1-0.5 s and neighbor load on this
        # shared box dominates two samples (round-2's io_vcf 2.27x "regression"
        # was half driver py4j cost, half noise) — one extra sample damps it
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            job()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        out[name] = round(best, 3)

    # Sink path: single-file BAM write (headerless BGZF parts + driver
    # header/terminator + concat) of the fixture's reads from cache.
    import tempfile

    from disq_original_spark.sources.bam import BamSink
    from disq_original_spark.sources.headers import read_bam_header

    header, _refs, _fv = read_bam_header(str(RES / "1.bam"))
    reads = (
        BamSource().read(spark, str(RES / "1.bam"), split_size=300 * 1024).cache()
    )
    reads.count()
    tmp = tempfile.mkdtemp()
    BamSink().write(reads, header, f"{tmp}/warm.bam")  # warm pass
    best = None
    for i in range(3):
        t0 = time.perf_counter()
        BamSink().write(reads, header, f"{tmp}/timed{i}.bam")
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    out["io_bam_write"] = round(best, 3)

    # Round-7 io additions: CRAM 3.1 write (rANS Nx16 externals with RLE
    # candidates, QS order-1, tok3 read names) and read-back through the
    # distributed source — the 3.1 codec surface measured, not just
    # tested.  Input: the valid.cram fixture's reads replicated 250× with
    # distinct qnames (2,000 reads), so the name tokenizer and the
    # quality model see real volume.
    from pyspark.sql import functions as F

    from disq_original_spark.sources.cram import CramSink
    from disq_original_spark.sources.cram_codec import read_cram_meta

    cram_fix = str(RES / "valid.cram")
    fasta_fix = str(RES / "valid.fasta")
    cram_hdr = read_cram_meta(Path(cram_fix).read_bytes())[0].header_text
    reads31 = (
        CramSource()
        .read(spark, cram_fix, reference_path=fasta_fix)
        .crossJoin(spark.range(250).select(F.col("id").alias("rep")))
        .withColumn(
            "qname", F.concat("qname", F.lit(":"), F.col("rep").cast("string"))
        )
        .drop("rep")
        .orderBy("pos", "qname")
        .cache()
    )
    reads31.count()
    cram31 = f"{tmp}/big31.cram"
    CramSink().write(reads31, cram_hdr, cram31, reference_path=fasta_fix,
                     version=(3, 1))  # warm pass (also the read input)
    best = None
    for i in range(3):
        t0 = time.perf_counter()
        CramSink().write(reads31, cram_hdr, f"{tmp}/big31_{i}.cram",
                         reference_path=fasta_fix, version=(3, 1))
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    out["io_cram31_write"] = round(best, 3)
    reads31.unpersist()

    def read31() -> None:
        # split_size puts the ~112 KB 32-container fixture in ~4 tasks —
        # the same policy as io_bam_read above (decode throughput with
        # the container-aligned split path exercised; a default 1 MB
        # split would time one core decoding serially, which is not how
        # a multi-container CRAM reads on a cluster)
        CramSource().read(
            spark, cram31, reference_path=fasta_fix, split_size=28 * 1024
        ).count()

    read31()  # warm
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        read31()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    out["io_cram31_read"] = round(best, 3)

    # Round-4 io additions: BCF (typed-binary decode, splittable via the
    # write-time .csi), FASTQ (text-record tiling), FASTA (windowed
    # reference scan).  BCF/FASTQ inputs are built once from the same
    # fixtures the read benches above use, via this repo's own sinks.
    from disq_original_spark.sources.bcf import BcfSink, BcfSource
    from disq_original_spark.sources.fasta import FastaSource
    from disq_original_spark.sources.fastq import FastqSink, FastqSource, bam_to_fastq
    from disq_original_spark.sources.headers import read_vcf_header_text

    bcf_path = f"{tmp}/hiseq.bcf"
    BcfSink().write(
        VcfSource().read(spark, str(RES / "HiSeq.10000.vcf.bgz")),
        read_vcf_header_text(str(RES / "HiSeq.10000.vcf.bgz")),
        bcf_path,
        write_index=True,
    )
    fq_path = f"{tmp}/reads.fastq"
    FastqSink().write(bam_to_fastq(reads), fq_path)
    # r9: SAM text decode (the only source family without an io entry) —
    # input built from the same reads via this repo's own sink
    from disq_original_spark.sources.sam import SamSink, SamSource

    sam_path = f"{tmp}/reads.sam"
    SamSink().write(reads, header, sam_path)
    reads.unpersist()
    jobs2 = {
        "io_bcf_read": lambda: BcfSource()
        .read(spark, bcf_path, split_size=128 * 1024)
        .count(),
        "io_fastq_read": lambda: FastqSource()
        .read(spark, fq_path, split_size=256 * 1024)
        .count(),
        "io_fasta_read": lambda: FastaSource()
        .read(spark, str(RES / "test.fa"), window=1000)
        .count(),
        "io_sam_read": lambda: SamSource()
        .read(spark, sam_path, split_size=256 * 1024)
        .count(),
    }
    for name, job in jobs2.items():
        job()  # warm pass
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            job()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        out[name] = round(best, 3)
    # keep the module-level name list (what the line-budget test measures)
    # in lockstep with what this function actually emits
    assert set(out) == set(_IO_ENTRIES), sorted(set(out) ^ set(_IO_ENTRIES))
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    spark = get_spark(app_name="disq-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/session so q1 doesn't pay session startup: exercise the
    # parquet reader, codegen, shuffle, noop-write, and Python-worker pools
    # once (a long-lived cluster runs with warm workers; the bench measures
    # steady-state, not daemon spawn).
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = load_table(spark, sf_dir, "nation")
    warm.groupBy("n_regionkey").count().write.format("noop").mode("overwrite").save()
    n_workers = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(0, n_workers * 2, 1, n_workers).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # One untimed pass compiles every query's codegen kernels and fills the
    # page cache, then the timed pass measures steady-state execution — the
    # quantity that actually scales to a long-running cluster (JIT/compile
    # cost is amortized over hours there; on a 30 s harness it would be half
    # the signal).  Same methodology as JMH warmup iterations.
    for name in HEADLINE:
        QUERIES[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # Honest-timing hygiene (VERDICT r4): the warm pass above persisted
    # shared subtrees (MinHash signatures, pHash tables...).  Release them
    # and drop every cached block before timing, and again between timed
    # entries, so no query's number is flattered by another query's (or its
    # own warm pass's) resident cache — each timed build pays its own
    # persists from cold, exactly as a fresh driver run would.
    release_persists()
    spark.catalog.clearCache()

    # Min of two timed passes: this box runs a shared harness, and a single
    # pass shows up to 5x run-to-run variance on individual queries from
    # neighbor load (measured: q20 0.86 s vs 4.90 s across back-to-back
    # runs).  Min-of-N is the standard noise-robust point estimate for a
    # deterministic workload (JMH reports it for the same reason) — it
    # measures the query, not the neighbors.
    timings: dict[str, float] = {}

    def timed(name: str) -> None:
        t0 = time.perf_counter()
        # Drain the full result without shipping rows to the driver.
        QUERIES[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        el = round(time.perf_counter() - t0, 3)
        timings[name] = min(timings.get(name, el), el)
        release_persists()
        spark.catalog.clearCache()

    for _ in range(2):
        for name in HEADLINE:
            timed(name)
    for name, extra in _EXTRA_PASSES.items():
        for _ in range(extra):
            timed(name)
    timings.update(_io_benchmarks(spark))

    norm = _canary_normalize(timings, sf)
    if norm:
        sidecar = Path(__file__).resolve().parent / "BENCH_NORMALIZED.json"
        sidecar.write_text(json.dumps({"sf": sf, **norm}, indent=1) + "\n")
    print(_final_line(timings, sf, norm))
    spark.stop()


if __name__ == "__main__":
    main()
