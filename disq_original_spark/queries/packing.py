"""Corpus-construction operators for LLM training pipelines (p01–p05):
sequence packing, stratified sampling, token-budget mixture, shard
assignment, and the composed quality→dedup→sample→mixture build.

Packing concatenates documents into fixed token-budget training sequences so
a trainer wastes no context-window slots on padding.  The globally-greedy
variant is inherently sequential, so it cannot scale; the standard scalable
formulation (used by T5/LLM data pipelines) packs *within independent
buckets*:

- every document is hashed into one of ``_N_BUCKETS`` buckets
  (``doc_id % _N_BUCKETS`` here, so the result is deterministic and the
  DuckDB oracle can reproduce it),
- documents within a bucket are processed in ``doc_id`` order with the
  next-fit rule at capacity ``_CAPACITY`` tokens: append to the current
  sequence if it fits, else start a new sequence (an oversized document
  occupies a sequence of its own),
- buckets are packed in parallel — one ``applyInPandas`` group each.

Scale: one hash shuffle on the bucket key; per-bucket state is O(1) (a
running token count), so bucket count — not corpus size — bounds parallelism
and no executor ever materializes more than its bucket.  At 100 TB you raise
``_N_BUCKETS`` to ~cores and the plan is unchanged.

The packing loop itself is a per-bucket Python loop over an Arrow batch:
next-fit is a reset-on-overflow running sum, which has no vectorized form,
but it is O(rows) with trivial constants and runs inside the Arrow pass.

Oracle: the same next-fit recurrence expressed as a DuckDB recursive CTE
walking each bucket in ``doc_id`` order.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import materialize
from ..functions import tokens
from ..tables import load_table, load_wide, table_bytes
from .registry import QUERIES, query

_N_BUCKETS = 8
_CAPACITY = 256

_PACKED_SCHEMA = "bucket long, seq_idx long, n_docs long, seq_tokens long"


def _pack_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("doc_id")
    seqs: list[tuple[int, int]] = []  # (n_docs, tokens) per sequence
    acc = None
    for toks in pdf["toks"].to_numpy():
        toks = int(toks)
        if acc is not None and acc + toks <= _CAPACITY:
            n, t = seqs[-1]
            seqs[-1] = (n + 1, t + toks)
            acc += toks
        else:
            seqs.append((1, toks))
            acc = toks
    bucket = int(pdf["bucket"].iloc[0]) if len(pdf) else 0
    return pd.DataFrame(
        {
            "bucket": bucket,
            "seq_idx": range(len(seqs)),
            "n_docs": [n for n, _ in seqs],
            "seq_tokens": [t for _, t in seqs],
        }
    )


@query(
    "p01_sequence_packing",
    rf"""WITH RECURSIVE d AS (
           SELECT doc_id, doc_id % {_N_BUCKETS} AS bucket,
                  len(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')) AS toks,
                  row_number() OVER (PARTITION BY doc_id % {_N_BUCKETS}
                                     ORDER BY doc_id) AS rn
           FROM documents WHERE text IS NOT NULL),
         packed AS (
           SELECT bucket, rn, toks, 0::BIGINT AS seq_idx, toks AS acc
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.bucket, d.rn, d.toks,
                  CASE WHEN p.acc + d.toks <= {_CAPACITY}
                       THEN p.seq_idx ELSE p.seq_idx + 1 END,
                  CASE WHEN p.acc + d.toks <= {_CAPACITY}
                       THEN p.acc + d.toks ELSE d.toks END
           FROM packed p JOIN d ON d.bucket = p.bucket AND d.rn = p.rn + 1)
         SELECT bucket, seq_idx, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS seq_tokens,
                round(sum(toks) / {_CAPACITY}.0, 4) AS fill
         FROM packed GROUP BY bucket, seq_idx ORDER BY bucket, seq_idx""",
    doc="Bucketed next-fit sequence packing at a fixed token budget — the "
    "scalable form of training-sequence packing (independent buckets, O(1) "
    "state per bucket).",
)
def p01(spark: SparkSession, sf: str) -> DataFrame:
    # NULL text carries no tokens to pack and would reach _pack_bucket as
    # NaN (int(NaN) raises); excluded on BOTH engines
    d = (
        load_table(spark, sf, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            (F.col("doc_id") % _N_BUCKETS).alias("bucket"),
            F.size(tokens("text")).cast("long").alias("toks"),
        )
    )
    # r13 audit: the final global orderBy's range-sampling pass re-runs the
    # applyInPandas pack stage (the bucket exchange below it IS reused, the
    # Python stage above it is not).  A PERSIST between pack and sort lost
    # (min/med of 7 interleaved: 1.31/1.54 s unpersisted vs 1.27/1.70 s
    # persisted — InMemoryRelation machinery costs more than it saves).  A
    # lazy localCheckpoint WINS (second r13 session, min/med of 6
    # interleaved): 1.473/1.595 s -> 0.940/1.239 s, faster in all six
    # rounds — the sampling job materializes the packed rows once and the
    # sort reads them back, no separate barrier job, no InMemoryRelation.
    return (
        d.groupBy("bucket")
        .applyInPandas(_pack_bucket, schema=_PACKED_SCHEMA)
        # fill is rounded JVM-side: F.round is HALF_UP, matching DuckDB's
        # half-away-from-zero on positive values (Python's round() is
        # half-to-even and disagrees at e.g. 232/256 = 0.90625).
        .withColumn("fill", F.round(F.col("seq_tokens") / float(_CAPACITY), 4))
        .transform(lambda d: materialize(d, table_bytes(sf, "documents")))
        .orderBy("bucket", "seq_idx")
    )


# ---------------------------------------------------------------- p02 stratified sample
# per-language sampling percentages: downsample the dominant language,
# keep the tail (the mixture-rebalancing move every multilingual corpus
# build makes)
_RATES = {"en": 35, "zh": 80, "es": 80, "de": 80, "fr": 80}
_DEFAULT_RATE = 50
_KNUTH = 2654435761  # Knuth multiplicative hash constant (2^32 / phi)

_RATE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _RATES.items())
    + f" ELSE {_DEFAULT_RATE} END"
)

# Overflow-safe (id * KNUTH) mod 2^32 over the FULL int64 id domain.
# The naive product overflows int64 for ids ≳ 3.5e9 (Spark wraps
# silently, DuckDB raises — the engines diverge exactly at real corpus
# ids), so the hash uses the id's low 32 bits and a split 16-bit modular
# multiply whose intermediates stay < 2^48:
#   a = id & 0xFFFFFFFF              (two's-complement AND in both engines)
#   a*K mod 2^32 = (a_lo*K + ((a_hi*K) mod 2^16)*2^16) mod 2^32
# The final value is h32 * mod >> 32 — Knuth's HIGH-bits scaling — NOT
# h32 % mod: K is odd (≡ 1 mod 2^k for small k), so h32's LOW bits equal
# the id's low bits and `% mod` degenerates to `id % mod` whenever mod
# shares factors with 2^k (verified: (a*K) % 2^32 % 16 == a % 16 for all
# ids) — sequential ids would stripe shards and bias every mod-100
# threshold by id % 4.  The top bits are where the multiply mixes.
def _knuth_hash_sql(mod: int, col: str = "doc_id") -> str:
    """SQL twin of ``_knuth_hash_col`` — parameterized (including the
    hashed column), not string surgery, so the twins can only diverge if
    someone edits one formula."""
    h32 = (
        f"((({col} & 4294967295) & 65535) * {_KNUTH} "
        f" + ((({col} & 4294967295) >> 16) * {_KNUTH} % 65536) * 65536"
        f") % 4294967296"
    )
    return f"(({h32}) * {mod} // 4294967296)"


_KEEP_HASH_SQL = _knuth_hash_sql(100)


def _knuth_hash_col(mod: int, col: str = "doc_id") -> F.Column:
    a = F.col(col).bitwiseAND(F.lit(4294967295))
    lo = a.bitwiseAND(F.lit(65535)) * _KNUTH
    hi = (F.shiftrightunsigned(a, 16) * _KNUTH) % 65536 * 65536
    h32 = (lo + hi) % (2**32)
    # h32 * mod < 2^39 for mod ≤ 100: no overflow; >>32 == // 2^32
    return F.shiftrightunsigned(h32 * mod, 32)


def _keep_hash_col() -> F.Column:
    return _knuth_hash_col(100)


def _rate_col() -> F.Column:
    """Per-language sampling percentage (mirrors _RATE_SQL)."""
    rate = F.lit(_DEFAULT_RATE)
    for k, v in reversed(_RATES.items()):
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    return rate


@query(
    "p02_stratified_sample",
    rf"""WITH d AS (SELECT doc_id, lang,
                           len(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')) AS toks,
                           {_KEEP_HASH_SQL} AS h,
                           {_RATE_SQL} AS rate
                    FROM documents)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN h < rate THEN toks ELSE 0 END) AS BIGINT)
                    AS kept_tokens,
                ((20000 * sum(CASE WHEN h < rate THEN 1 ELSE 0 END) + count(*))
                 // (2 * count(*))) / 10000.0 AS kept_frac
         FROM d GROUP BY lang ORDER BY lang""",
)
def p02(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling for mixture rebalancing: each
    language keeps a configured percentage of documents, selected by a
    Knuth multiplicative hash of the id — engine-independent plain integer
    arithmetic (NOT Spark's hash(), which DuckDB cannot reproduce), so the
    exact same documents are kept everywhere, reruns are stable, and the
    oracle verifies the selection, not just the rates.  The hash keys on the
    id's low 32 bits via a split 16-bit modular multiply (``_keep_hash_col``)
    whose intermediates stay under 2^48, so Spark and DuckDB agree for EVERY
    int64 doc_id — the naive ``doc_id * K`` overflows at ids ≳ 3.5e9, where
    Spark wraps silently and DuckDB raises.

    Scale shape: selection is a pure map-side predicate (no shuffle, no
    sampling state); the only shuffle is the per-language aggregate.  This
    is how a 100 TB corpus is downsampled in practice — a full sort or
    reservoir would serialize, a rand() sample is irreproducible.

    kept_frac is the half-up e4 integer division (the t09/p05 pattern,
    r13): ``(2·10^4·kept + n) div (2n) / 10^4`` — a terminal
    ``round(kept/n, 4)`` constructs exact .5e-4 boundaries where Spark
    rounds the double's SHORTEST DECIMAL and DuckDB the binary value
    (SCALE.md shortest-decimal trap).  Longs suffice: 2·10^4·kept wraps
    only past 4.6e14 docs per language — three orders beyond a 100 TB
    corpus."""
    d = load_table(spark, sf, "documents")
    kept = _keep_hash_col() < _rate_col()
    return (
        d.select(
            "lang",
            F.size(tokens("text")).cast("long").alias("toks"),
            kept.cast("int").alias("keep"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.sum(F.col("keep") * F.col("toks")).cast("long").alias("kept_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_kept",
            "kept_tokens",
            (F.expr("(20000 * n_kept + n_docs) div (2 * n_docs)") / 10000.0).alias(
                "kept_frac"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------- p03 budget mixture
_SOURCE_BUDGET = 2000  # token budget per source


@query(
    "p03_budget_mixture",
    rf"""WITH d AS (SELECT doc_id, source,
                           len(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')) AS toks
                    FROM documents),
         c AS (SELECT doc_id, source, toks,
                      sum(toks) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum
               FROM d)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN cum <= {_SOURCE_BUDGET} THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN cum <= {_SOURCE_BUDGET} THEN toks ELSE 0 END)
                     AS BIGINT) AS kept_tokens
         FROM c GROUP BY source ORDER BY source""",
)
def p03(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget mixture construction: every source contributes documents
    in id order until its token budget is exhausted (running-sum cutoff) —
    how a training mixture hits per-source token targets deterministically.

    Scale shape: one hash shuffle on source for the window's running sum,
    then the same-keyed aggregate reuses the partitioning (no second
    exchange).  The cutoff is a windowed cumsum, not a collect-and-loop."""
    d = load_table(spark, sf, "documents").select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("toks")
    )

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("toks").over(w))
    keep = (F.col("cum") <= _SOURCE_BUDGET).cast("int")
    return (
        c.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(keep).cast("long").alias("n_kept"),
            F.sum(keep * F.col("toks")).cast("long").alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- p04 shard assignment
_N_SHARDS = 16

_SHARD_SQL = _knuth_hash_sql(_N_SHARDS)


@query(
    "p04_shard_assignment",
    rf"""WITH d AS (SELECT doc_id, lang,
                           len(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')) AS toks,
                           {_SHARD_SQL} AS shard
                    FROM documents)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS shard_tokens,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc,
                count(DISTINCT lang) AS n_langs
         FROM d GROUP BY shard ORDER BY shard""",
)
def p04(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic output-shard assignment: route every document to one of
    ``_N_SHARDS`` training-data shards by the engine-independent Knuth hash
    of its id (same split-multiply as p02, mod shard count) and report
    per-shard balance stats — the validation pass a pipeline runs before
    ``partitionBy(shard)``-writing a sharded corpus, proving the hash spreads
    docs and tokens evenly and reruns land every doc in the same shard.

    Scale shape: assignment is a pure map-side expression (zero shuffle —
    at write time it becomes the partitioning key itself); the stats are one
    hash aggregate over ``_N_SHARDS`` groups.  Multiplicative hashing keeps
    sequential ids from striping shards the way ``id % n`` would."""
    d = load_table(spark, sf, "documents")
    shard = _knuth_hash_col(_N_SHARDS)
    return (
        d.select(
            shard.alias("shard"),
            "doc_id",
            "lang",
            F.size(tokens("text")).cast("long").alias("toks"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("long").alias("shard_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------- p05 composed pipeline
_P05_QUALITY_MIN = 0.35

_P05_QUALITY_SQL = (
    r"round(least(CAST(len(string_split_regex(lower(trim(text)), "
    r"'[ \t\n\x0b\f\r]+')) AS DOUBLE) / 100.0, 1.0) * "
    r"(1 - CASE WHEN len(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')) > 0 "
    r"THEN CAST(len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+'), "
    r"x -> x IN {stop})) AS DOUBLE) "
    r"/ len(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')) ELSE 0 END), 4)"
)


def _p05_oracle() -> str:
    from .textops import _STOP_SQL

    quality = _P05_QUALITY_SQL.format(stop=_STOP_SQL)
    return rf"""WITH base AS (
          SELECT doc_id, lang, source,
                 CAST(len(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+'))
                      AS BIGINT) AS toks,
                 {quality} AS quality,
                 md5(text) AS h,
                 {_KEEP_HASH_SQL} AS kh,
                 {_RATE_SQL} AS rate
          FROM documents),
        q AS (SELECT * FROM base WHERE quality >= {_P05_QUALITY_MIN}),
        d AS (SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
              FROM q),
        k AS (SELECT * FROM d WHERE rn = 1 AND kh < rate)
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(toks) AS BIGINT) AS total_tokens,
               -- exact integer mean: per-doc quality is already 4-rounded,
               -- so round(quality*10000) recovers its e4 integer exactly;
               -- integer sums are addition-order-independent (a float
               -- avg() here flipped 0.5913 vs 0.5912 between runs at
               -- sf0.1 — partial-sum order is not deterministic), and the
               -- half-up mean is one exact floor on small integers
               floor((2 * sum(CAST(round(quality * 10000) AS BIGINT))
                      + count(*)) / (2 * count(*))) / 10000.0 AS avg_quality
        FROM k GROUP BY lang, source ORDER BY lang, source"""


@query(
    "p05_corpus_pipeline",
    _p05_oracle(),
)
def p05(spark: SparkSession, sf: str) -> DataFrame:
    """The composed corpus-construction pipeline, end to end in ONE
    declarative DataFrame program: quality filter (t02's score) → exact
    dedup (keep the lowest doc_id per content hash) → deterministic
    stratified sample (p02's engine-independent Knuth hash) → per
    (lang, source) mixture stats.  This is the shape a real training-data
    build takes — each stage is an operator this engine ships individually,
    and composing them costs nothing extra because Catalyst fuses the
    map-side stages into one scan.

    Scale shape: quality scoring, hashing, and the sample predicate are all
    computed in the SAME single pass over the corpus (one projection, no
    Python); the only shuffles are the dedup window on the content hash
    (which a 100 TB run keys the same way) and the final small aggregate.
    Filters run BEFORE the dedup shuffle, so low-quality documents never
    shuffle at all — operator order is chosen for data volume, not just
    correctness."""
    from ..functions import stopword_count

    d = load_table(spark, sf, "documents")
    tok = tokens("text")
    n_tokens = F.size(tok).cast("double")
    stop_ratio = F.when(
        n_tokens > 0, stopword_count(tok).cast("double") / n_tokens
    ).otherwise(0.0)
    quality = F.round(
        F.least(n_tokens / 100.0, F.lit(1.0)) * (1 - stop_ratio), 4
    )
    base = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(tok).cast("long").alias("toks"),
        quality.alias("quality"),
        F.md5("text").alias("h"),
        _keep_hash_col().alias("kh"),
        _rate_col().alias("rate"),
    )
    q = base.filter(F.col("quality") >= _P05_QUALITY_MIN)

    rn = F.row_number().over(Window.partitionBy("h").orderBy("doc_id"))
    k = (
        q.withColumn("rn", rn)
        .filter((F.col("rn") == 1) & (F.col("kh") < F.col("rate")))
    )
    # The mean travels as EXACT integers: per-doc quality is already
    # 4-rounded, so round(quality*10000) recovers its e4 integer exactly;
    # integer sums are addition-order-independent, where a float
    # avg(quality) flipped its 4th decimal between runs at sf0.1 (the
    # partial-aggregation order is not deterministic).  Half-up mean =
    # floor((2s+n)/2n), exact in double for these magnitudes (< 2^53).
    q_e4 = F.round(F.col("quality") * 10000).cast("long")
    return (
        k.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.sum(q_e4).alias("_s_e4"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "total_tokens",
            (
                F.floor(
                    (2 * F.col("_s_e4") + F.col("n_docs"))
                    / (2 * F.col("n_docs"))
                )
                / 10000.0
            ).alias("avg_quality"),
        )
        .orderBy("lang", "source")
    )


# ----------------------------------------------- p06 DSIR importance resampling
_P06_B = 1024  # hashed n-gram buckets
_P06_THR_MICRO = 0  # select docs whose quantized log-weight is positive

# Feature hash = first 32 bits of md5 — NATIVE in both engines (JVM md5 in
# Spark codegen, C md5 in DuckDB), identical on the same UTF-8 bytes.  The
# per-char rolling-hash fold used first was ~20x slower: Spark evaluates
# higher-order-function lambdas interpreted per element, and the fold ran
# over every character of every bigram.
_P06_HASH_SQL = "CAST(('0x' || substr(md5({w}), 1, 8)) AS BIGINT) % " + str(_P06_B)


@query(
    "p06_importance_resampling",
    rf"""WITH toks AS (
          SELECT doc_id, lang,
                 string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+') AS t
          FROM documents),
        feats AS (
          SELECT doc_id, lang, unnest(list_concat(
                   list_transform(t, w -> {_P06_HASH_SQL.format(w="w")}),
                   list_transform(range(1, len(t)),
                                  i -> {_P06_HASH_SQL.format(w="(t[i] || ' ' || t[i+1])")})
                 )) AS b
          FROM toks),
        hist AS (
          SELECT b, count(*) AS cr,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
          FROM feats GROUP BY b),
        tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM hist),
        ratios AS (
          SELECT b, CAST(round((ln((ct + 1.0) / (nt + {_P06_B}))
                               - ln((cr + 1.0) / (nr + {_P06_B}))) * 1000000)
                         AS BIGINT) AS lrq
          FROM hist, tot),
        scored AS (
          SELECT f.doc_id, count(*) AS n_feats, CAST(sum(r.lrq) AS BIGINT) AS wq
          FROM feats f JOIN ratios r USING (b) GROUP BY f.doc_id)
        SELECT doc_id, n_feats, wq AS log_w_micro,
               CAST(sign(wq) AS BIGINT) * ((abs(wq) + 50) // 100) / 10000.0 AS log_w,
               wq >= {_P06_THR_MICRO} AS selected
        FROM scored ORDER BY doc_id""",
)
def p06(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
    score every document by the log importance weight of a hashed-n-gram
    bag model — ln p_target(feature) - ln p_raw(feature) summed over the
    document's unigram+bigram features, with Laplace smoothing — where the
    target distribution is the English subset and raw is the whole corpus;
    positive-weight documents are the ones a target-matched resample keeps.

    Engine-exact by construction: each bucket's log-ratio is quantized to
    integer MICRO-units once (one round of one double per bucket), so the
    per-document score is an exact integer sum — order-independent, immune
    to the float-accumulation drift a naive sum-of-lns has between Spark's
    partition-parallel and DuckDB's sequential aggregation — and the
    selection is an integer comparison.

    Scale shape: features are built in one higher-order expression (no
    Python); the bucket histogram is a hash aggregate onto {_P06_B} keys
    (map-side combine collapses each partition to <= B partial rows); the
    log-ratio table is {_P06_B} rows — broadcast — so scoring is a
    broadcast join plus one (doc_id, partials) shuffle.  The corpus text
    itself is never shuffled at any stage."""
    d = load_table(spark, sf, "documents")

    def bucket(word):
        return (
            F.conv(F.substring(F.md5(word.cast("binary")), 1, 8), 16, 10)
            .cast("long")
            % _P06_B
        )

    # Materialize the token array ONCE: expressions inside lambdas are not
    # common-subexpression-eliminated, so element_at(split(text), i) in the
    # bigram lambda would re-split the whole document for every bigram —
    # O(len^2) per doc (measured 13 s at sf0.1; 1 s with the projection).
    td = d.select("doc_id", "lang", tokens("text").alias("t"))
    t = F.col("t")
    unigrams = F.transform(t, bucket)
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: bucket(
                F.concat(F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1))
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # materialized once: feats feeds BOTH the bucket histogram and the
    # per-doc scoring join — without a materialization point the
    # full-corpus tokenize + md5 pass (the dominant cost) runs twice, and
    # a LAZY persist still runs it twice at bench scale because the
    # ratios broadcast's prep future races the scoring branch on the cold
    # cache (the m04/g09 defect, r13 session 6)
    feats = materialize(td.select(
        "doc_id", "lang", F.explode(F.concat(unigrams, bigrams)).alias("b")
    ), table_bytes(sf, "documents"))
    hist = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum((F.col("lang") == "en").cast("long")).alias("ct"),
    )
    tot = hist.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    lrq = F.round(
        (
            F.log((F.col("ct") + 1.0) / (F.col("nt") + float(_P06_B)))
            - F.log((F.col("cr") + 1.0) / (F.col("nr") + float(_P06_B)))
        )
        * 1000000.0
    ).cast("long")
    ratios = hist.join(F.broadcast(tot)).select("b", lrq.alias("lrq"))
    scored = (
        feats.join(F.broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_feats"), F.sum("lrq").alias("wq"))
    )
    # 4-decimal display value derived by INTEGER half-away rounding, then one
    # division — a float round(wq/1e6, 4) differs between engines exactly on
    # the .00005 boundaries (HALF_UP vs banker's), and wq ≡ 50 (mod 100)
    # does occur in practice
    log_w = (
        F.signum("wq").cast("long") * F.floor((F.abs("wq") + 50) / 100)
    ) / 10000.0
    return scored.select(
        "doc_id",
        "n_feats",
        F.col("wq").alias("log_w_micro"),
        log_w.alias("log_w"),
        (F.col("wq") >= _P06_THR_MICRO).alias("selected"),
    ).orderBy("doc_id")


# ------------------------------------------------- p07 deterministic shuffle
_P07_SHARDS = 16


@query(
    "p07_deterministic_shuffle",
    f"""WITH k AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   AS shuffle_key
          FROM documents)
        SELECT doc_id, shuffle_key,
               CAST(shuffle_key % {_P07_SHARDS} AS BIGINT) AS shard,
               CAST(row_number() OVER (PARTITION BY shuffle_key % {_P07_SHARDS}
                                       ORDER BY shuffle_key, doc_id) AS BIGINT)
                 AS pos_in_shard
        FROM k ORDER BY doc_id""",
)
def p07(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic corpus shuffle: every document gets a reproducible
    pseudo-random position — md5-derived shuffle key, shard = key mod N,
    position = rank within shard — so the training-data order is fully
    determined by document identity alone.  Reruns, engine swaps, and
    resumed jobs all see the same order (data order affects training
    runs; an irreproducible shuffle makes ablations incomparable).

    Scale shape: the key is a pure map-side expression; ranking partitions
    BY SHARD, so the sort is N independent shard-local sorts (the TeraSort
    shape — range/hash partition then local sort), never a global
    single-reducer ORDER BY.  At write time ``shard`` becomes the
    partitionBy key and ``pos_in_shard`` the within-file order."""
    d = load_table(spark, sf, "documents")
    key = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10
    ).cast("long")

    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        d.select(
            "doc_id",
            key.alias("shuffle_key"),
            (key % _P07_SHARDS).alias("shard"),
        )
        .withColumn("pos_in_shard", F.row_number().over(w).cast("long"))
        .orderBy("doc_id")
    )


# ------------------------------------------------------- p08 per-domain cap
_P08_CAP = 10  # max documents kept per source domain


@query(
    "p08_domain_cap",
    f"""SELECT doc_id, source, n_chars, CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS rank
          FROM documents) t
        WHERE rank <= {_P08_CAP}
        ORDER BY source, rank""",
)
def p08(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document cap: keep at most ``_P08_CAP`` documents per
    ``source`` (the domain analog), preferring longer documents with doc_id
    as the deterministic tiebreak — the standard web-corpus curation guard
    against a handful of template-heavy domains dominating the training mix
    (C4 and FineWeb both cap or downweight hot domains).

    Scale shape: the ``row_number() <= cap`` filter compiles to a
    Partial+Final WindowGroupLimit pair (SPARK-37099), so every map
    partition truncates to its own top-cap per domain BEFORE the source
    Exchange — the shuffle carries at most cap × partitions rows per
    domain no matter how many billions of pages the hottest domain has.
    The same skew that breaks a naive rank-then-filter (one reducer owns
    reddit.com) is bounded here; pinned by
    ``tests/test_plans.py::test_domain_cap_partial_limit``."""

    d = load_table(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.select("doc_id", "source", "n_chars")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _P08_CAP)
        .orderBy("source", "rank")
    )


# ------------------------------------------------------- p09 skew audit
_P09_TOPK = 20


@query(
    "p09_skew_audit",
    f"""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        t AS (SELECT CAST(sum(n) AS DOUBLE) AS total,
                     count(*) AS n_keys FROM c),
        top AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT {_P09_TOPK})
        SELECT CAST(row_number() OVER (ORDER BY n DESC, user_id) AS BIGINT) AS rank,
               user_id, n, t.n_keys,
               round(n / t.total, 6) AS share,
               round(sum(n) OVER (ORDER BY n DESC, user_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) / t.total, 6) AS cum_share
        FROM top CROSS JOIN t
        ORDER BY rank""",
    doc="Join-key skew audit — the diagnostic a pipeline runs BEFORE a big "
    "shuffle to decide whether a key needs salting (g08's strategy) or an "
    "AQE skew split: exact per-key counts, the top heavy hitters with "
    "their corpus share and cumulative concentration, plus the distinct-"
    "key count that sizes the exchange.\n\n"
    "Scale shape: one hash aggregate with map-side combine (the only "
    "full shuffle, keyed exactly like the join under audit would be); the "
    "top-k is sort+limit, which Spark executes as TakeOrderedAndProject — "
    "per-partition heaps of k rows, never a global sort; the final "
    "share/cumulative window runs on k rows.  The 1-row totals aggregate "
    "broadcasts.",
)
def p09(spark: SparkSession, sf: str) -> DataFrame:

    e = load_table(spark, sf, "events")
    c = e.groupBy("user_id").agg(F.count("*").alias("n"))
    t = c.agg(
        F.sum("n").cast("double").alias("total"), F.count("*").alias("n_keys")
    )
    top = c.orderBy(F.col("n").desc(), "user_id").limit(_P09_TOPK)
    w = Window.orderBy(F.col("n").desc(), "user_id")
    cum = Window.orderBy(F.col("n").desc(), "user_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.join(F.broadcast(t))
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            "user_id",
            "n",
            "n_keys",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(F.sum("n").over(cum) / F.col("total"), 6).alias("cum_share"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------- p10 corpus pipeline v2
_P10_W = 20  # paragraph width (d11)
_P10_CAP = 10  # per-domain cap (p08)
_P10_SHARDS = 16

_P10_TOK_SQL = r"string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')"


def _p10_oracle() -> str:
    from .textops import _STOP_SQL

    return rf"""WITH t AS (
          SELECT doc_id, lang, source, n_chars, {_P10_TOK_SQL} AS w
          FROM documents WHERE text IS NOT NULL),
        s AS (SELECT doc_id, lang, source, n_chars, w,
                     len(w) AS n_tokens,
                     len(list_filter(w, x -> x IN {_STOP_SQL})) AS n_stop,
                     (SELECT max(c) FROM (SELECT count(*) AS c
                                          FROM unnest(t2.w) AS u(word)
                                          GROUP BY word)) AS top_count
              FROM t t2),
        pass AS (SELECT * FROM s
                 WHERE n_tokens >= 20 AND n_tokens <= 90
                   AND n_stop * 20 >= n_tokens
                   AND top_count * 5 <= n_tokens),
        p AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pidx,
                     md5(array_to_string(
                         list_slice(w, u.i * {_P10_W} + 1, (u.i + 1) * {_P10_W}),
                         ' ')) AS phash
              FROM pass,
                   UNNEST(range(CAST(ceil(len(w) / {_P10_W}.0) AS BIGINT))) AS u(i)),
        kf AS (SELECT doc_id,
                      CASE WHEN row_number() OVER (PARTITION BY phash
                                                   ORDER BY doc_id, pidx) = 1
                           THEN 1 ELSE 0 END AS keep
               FROM p),
        dstat AS (SELECT doc_id, count(*) AS n_paras,
                         CAST(sum(keep) AS BIGINT) AS n_kept
                  FROM kf GROUP BY doc_id),
        surv AS (SELECT pass.*
                 FROM pass JOIN dstat USING (doc_id)
                 WHERE 2 * dstat.n_kept >= dstat.n_paras),
        cap AS (SELECT * FROM (
                  SELECT doc_id, lang, source, n_chars, n_tokens,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY n_chars DESC, doc_id) AS rnk
                  FROM surv) c WHERE rnk <= {_P10_CAP}),
        sharded AS (SELECT *, {_knuth_hash_sql(_P10_SHARDS)} AS shard FROM cap)
        SELECT shard, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
               count(DISTINCT lang) AS n_langs
        FROM sharded GROUP BY shard ORDER BY shard"""


@query(
    "p10_corpus_pipeline_v2",
    _p10_oracle(),
)
def p10(spark: SparkSession, sf: str) -> DataFrame:
    """The composed web-corpus build over this round's operators, end to end
    in ONE declarative program: t12's integer filter cascade → d11's global
    paragraph dedup (drop documents more than half duplicated) → p08's
    per-domain cap → p04's deterministic shard assignment with balance
    stats.  Every stage ships individually with its own oracle; this query
    proves they COMPOSE — the property a real FineWeb/CCNet-style build
    needs.

    Scale shape, stage by stage: the filter cascade runs FIRST so rejected
    documents never enter the paragraph shuffle (its only heavy aggregate —
    top_count — is the same two-level hash agg t08/t12 pay); the paragraph
    dedup shuffles (doc_id, pidx, 32-hex hash) for survivors only; the
    domain cap is the Partial+Final WindowGroupLimit pair; shard assignment
    is a pure map-side expression feeding one 16-group aggregate.  Order is
    chosen for data volume at every boundary."""

    from ..functions import stopword_count

    d = load_wide(spark, sf, "documents").filter(F.col("text").isNotNull())
    tok = tokens("text")
    base = d.select(
        "doc_id", "lang", "source", "n_chars", tok.alias("w"),
        F.size(tok).cast("long").alias("n_tokens"),
        stopword_count(tok).cast("long").alias("n_stop"),
    )
    top = (
        d.select("doc_id", F.explode(tok).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_count"))
    )
    passed = (
        base.join(top, "doc_id")
        .filter(
            (F.col("n_tokens") >= 20)
            & (F.col("n_tokens") <= 90)
            & (F.col("n_stop") * 20 >= F.col("n_tokens"))
            & (F.col("top_count") * 5 <= F.col("n_tokens"))
        )
    )
    n_chunks = F.ceil(F.size("w") / _P10_W).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.md5(
            F.array_join(F.slice(F.col("w"), i * _P10_W + 1, _P10_W), " ").cast("binary")
        ),
    )
    p = passed.select("doc_id", F.posexplode(paras).alias("pidx", "phash"))
    wk = Window.partitionBy("phash").orderBy("doc_id", "pidx")
    dstat = (
        p.withColumn("keep", (F.row_number().over(wk) == 1).cast("int"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_paras"), F.sum("keep").cast("long").alias("n_kept"))
    )
    surv = passed.join(dstat, "doc_id").filter(
        2 * F.col("n_kept") >= F.col("n_paras")
    )
    wc = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    cap = (
        surv.withColumn("rnk", F.row_number().over(wc))
        .filter(F.col("rnk") <= _P10_CAP)
    )
    return (
        cap.select("doc_id", "lang", "n_tokens", _knuth_hash_col(_P10_SHARDS).alias("shard"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------- p11 z-order layout
_P11_BITS = 16  # per-dimension resolution of the z-curve
_P11_BUCKET_SHIFT = 2 * _P11_BITS - 10  # top 10 z bits -> 1024 layout cells


def _p11_interleave_sql(a: str, b: str) -> str:
    """DuckDB bit-interleave of two 16-bit ints (a -> even bits, b -> odd)."""
    terms = [
        f"((({a} >> {i}) & 1) << {2 * i}) + ((({b} >> {i}) & 1) << {2 * i + 1})"
        for i in range(_P11_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


def _p11_interleave_col(a: F.Column, b: F.Column) -> F.Column:
    """Spark twin of ``_p11_interleave_sql`` — same bit list, same weights."""
    z = F.lit(0)
    for i in range(_P11_BITS):
        z = (
            z
            + F.shiftleft(F.shiftrightunsigned(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftrightunsigned(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


_P11_SQL = f"""
    WITH d AS (SELECT CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS d1,
                      l_partkey AS d2
               FROM lineitem),
     s AS (SELECT min(d1) AS lo1, max(d1) AS hi1, min(d2) AS lo2, max(d2) AS hi2
           FROM d),
     n AS (SELECT ((d1 - lo1) * 65535) // greatest(hi1 - lo1, 1) AS x,
                  ((d2 - lo2) * 65535) // greatest(hi2 - lo2, 1) AS y
           FROM d, s),
     z AS (SELECT x, y, {_p11_interleave_sql("x", "y")} >> {_P11_BUCKET_SHIFT} AS cell
           FROM n)
    SELECT cell, count(*) AS n,
           CAST(min(x) AS BIGINT) AS x_lo, CAST(max(x) AS BIGINT) AS x_hi,
           CAST(min(y) AS BIGINT) AS y_lo, CAST(max(y) AS BIGINT) AS y_hi
    FROM z GROUP BY cell ORDER BY cell"""


@query(
    "p11_zorder_layout",
    _P11_SQL,
    doc="Z-order (Morton-curve) layout audit — the multi-dimensional "
    "clustering primitive behind Delta/Iceberg OPTIMIZE ZORDER: both "
    "dimensions (ship date, part key) are min-max normalized into 16-bit "
    "grid coordinates, bit-interleaved into a z-value, and the top 10 z "
    "bits define 1024 layout cells.  Per cell the audit emits row count "
    "and the min/max of each dimension, demonstrating the locality that "
    "makes file-level min/max statistics prune BOTH dimensions at once.  "
    "All arithmetic is exact integers (normalization is integer floor "
    "division, interleave is the same 32-term bit sum in both engines), "
    "so the oracle hash-checks every cell.\n\n"
    "Scale shape: the dimension statistics reduce to ONE broadcast row "
    "(map-side combine), normalization + interleave are pure codegen "
    "expressions, and the only data shuffle is the 1024-key cell "
    "aggregate with partial agg.  The production write path is "
    "repartitionByRange(z) before the sink so each output file covers a "
    "contiguous z-range; this query is the audit that proves the layout "
    "clusters.",
)
def p11(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").select(
        F.datediff("l_shipdate", F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("d1"),
        F.col("l_partkey").alias("d2"),
    )
    stats = li.agg(
        F.min("d1").alias("lo1"),
        F.max("d1").alias("hi1"),
        F.min("d2").alias("lo2"),
        F.max("d2").alias("hi2"),
    )
    # `div` is true integer division: the docstring's exact-integer claim
    # must hold even for ranges where a double quotient could round across
    # an integer boundary (the oracle's // always floors)
    n = li.crossJoin(F.broadcast(stats)).selectExpr(
        "((d1 - lo1) * 65535) div greatest(hi1 - lo1, 1) AS x",
        "((d2 - lo2) * 65535) div greatest(hi2 - lo2, 1) AS y",
    )
    z = n.select(
        "x",
        "y",
        F.shiftrightunsigned(
            _p11_interleave_col(F.col("x"), F.col("y")), _P11_BUCKET_SHIFT
        ).alias("cell"),
    )
    return (
        z.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("x_lo"),
            F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"),
            F.max("y").alias("y_hi"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------- p12 leakage-safe split
_P12_TRAIN, _P12_VAL = 80, 90  # hash < 80 train, < 90 val, else test


def _p12_split_sql(hash_expr: str) -> str:
    return (
        f"CASE WHEN {hash_expr} < {_P12_TRAIN} THEN 'train' "
        f"WHEN {hash_expr} < {_P12_VAL} THEN 'val' ELSE 'test' END"
    )


def _p12_oracle() -> str:
    # reuse d07's recursive-CTE connected components; the Knuth-hash SQL
    # twin is parameterized by the hashed column
    from .dedup import _PAIRS_SQL

    own_h = _knuth_hash_sql(100)
    key_h = _knuth_hash_sql(100, "key")
    return f"""WITH RECURSIVE {_PAIRS_SQL},
        reach(node, root) AS (
            SELECT a_id, a_id FROM (SELECT DISTINCT a_id FROM edges)
            UNION
            SELECT e.b_id, r.root FROM reach r JOIN edges e ON e.a_id = r.node
        ),
        clusters AS (SELECT node AS doc_id, min(root) AS cluster_id
                     FROM reach GROUP BY node),
        d AS (SELECT doc_id,
                     len(string_split_regex(lower(trim(text)),
                                            '[ \t\n\x0b\f\r]+')) AS toks
              FROM documents),
        j AS (SELECT d.doc_id, d.toks,
                     coalesce(c.cluster_id, d.doc_id) AS key
              FROM d LEFT JOIN clusters c USING (doc_id)),
        s AS (SELECT toks,
                     {_p12_split_sql(key_h)} AS split,
                     CAST({_p12_split_sql(own_h)} <> {_p12_split_sql(key_h)}
                          AS INTEGER) AS moved
              FROM j)
       SELECT split, count(*) AS n_docs,
              CAST(sum(toks) AS BIGINT) AS n_tokens,
              CAST(sum(moved) AS BIGINT) AS n_moved
       FROM s GROUP BY split ORDER BY split"""


@query("p12_leakage_safe_split", _p12_oracle())
def p12(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split with NEAR-DUP LEAKAGE REPAIR —
    the dataset-splitting step an honest eval pipeline cannot skip: a
    document and its near-duplicate must never land in different splits
    (else the test set leaks into training).  Every document first gets a
    hash split (the p02 engine-exact Knuth hash, 80/10/10); then every
    MinHash-LSH duplicate cluster (d07's connected components) is forced
    whole into the split of its cluster id (the min member), and the
    audit counts how many documents moved.

    Scale shape: cluster labels are slim (doc_id, cluster_id) pairs; the
    repair is one left join of the corpus against them plus pure map-side
    hash arithmetic; the rollup is a 3-key aggregate with map-side
    combine.  The CC iteration cost is d07's — already the canonical
    scalable form — and is shared, not added."""
    from .dedup import d07

    d = load_table(spark, sf, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("toks")
    )
    clusters = d07(spark, sf).select("doc_id", "cluster_id")
    own = _knuth_hash_col(100)
    joined = d.join(clusters, "doc_id", "left").withColumn(
        "key", F.coalesce("cluster_id", "doc_id")
    )
    key_hash = _knuth_hash_col(100, "key")
    split_of = lambda h: (  # noqa: E731
        F.when(h < _P12_TRAIN, "train").when(h < _P12_VAL, "val").otherwise("test")
    )
    return (
        joined.select(
            "toks",
            split_of(key_hash).alias("split"),
            (split_of(own) != split_of(key_hash)).cast("int").alias("moved"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.sum("moved").cast("long").alias("n_moved"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------- p13 curriculum phases
# Length-ordered curriculum (shortest-first, the classic warm-up schedule):
# split the corpus's total token budget into _P13_PHASES equal phases along
# the (n_tokens, doc_id) order and stamp every document with its phase.
# The global running token sum is computed as a DISTRIBUTED prefix sum —
# never a single-partition window over the corpus.
_P13_PHASES = 4
_P13_BIN = 8  # tokens per coarse bucket of the two-level prefix sum

_P13_TOK_SQL = r"len(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+'))"


@query(
    "p13_curriculum_phases",
    f"""WITH tok AS (SELECT doc_id, {_P13_TOK_SQL} AS n_tokens FROM documents
                     WHERE text IS NOT NULL),
         c AS (SELECT doc_id, n_tokens,
                      -- DuckDB window-sums BIGINT into HUGEINT, which its
                      -- pandas fetch renders as float64 — cast back so the
                      -- driver's canonicalization matches Spark's LONG
                      CAST(sum(n_tokens) OVER (ORDER BY n_tokens, doc_id
                                               ROWS UNBOUNDED PRECEDING)
                           AS BIGINT) AS cum_tokens,
                      CAST(sum(n_tokens) OVER () AS BIGINT) AS total
               FROM tok)
        SELECT doc_id, n_tokens, cum_tokens,
               CAST(least(((cum_tokens - n_tokens) * {_P13_PHASES}) // total,
                          {_P13_PHASES - 1}) AS BIGINT) AS phase
        FROM c ORDER BY doc_id""",
    doc="Token-budget curriculum assignment: documents ordered shortest-"
    "first, the corpus's total token count cut into equal-budget phases, "
    "every document stamped with the phase its cumulative position falls "
    "in — the data-scheduling step of curriculum / length-warm-up "
    "training.  Phase arithmetic is pure BIGINT (floor of cum*P/total), "
    "so both engines agree exactly.\n\n"
    "Scale shape: the oracle's global window is a single-partition sort "
    "at corpus scale, so the Spark plan computes the SAME running sum as "
    "a two-level prefix sum instead — documents land in coarse token-"
    "range buckets (bucket order provably equals global order because "
    "the bucket is a monotone function of the sort key); per-bucket "
    "totals (O(bins) rows, independent of corpus size) get exclusive "
    "running offsets in one tiny window; each document adds its within-"
    "bucket cumulative (a window PARTITIONED by bucket — fully parallel) "
    "to its bucket's offset.  Two corpus-scale exchanges total (bucket "
    "hash + within-bucket sort), never a global single-partition sort.",
)
def p13(spark: SparkSession, sf: str) -> DataFrame:
    # NULL text would give a NULL bucket key and silently vanish through
    # the inner offset join while the oracle kept the row — exclude it on
    # BOTH engines (the p01 idiom; the generator can emit NULL text)
    tok = (
        load_table(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.size(tokens("text")).cast("long").alias("n_tokens"))
    )
    b = tok.withColumn("bucket", F.expr(f"n_tokens div {_P13_BIN}"))
    # O(bins) frame: one row per coarse token-range bucket.  The windows
    # over it are single-partition by construction — over bins, not docs.
    totals = b.groupBy("bucket").agg(F.sum("n_tokens").alias("btok"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = totals.select(
        "bucket",
        F.coalesce(F.sum("btok").over(w_off), F.lit(0)).alias("offset"),
        F.sum("btok").over(w_all).alias("total"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("n_tokens", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.col("offset") + F.sum("n_tokens").over(w_in)
    phase = F.least(
        F.expr(f"((cum_tokens - n_tokens) * {_P13_PHASES}) div total"),
        F.lit(_P13_PHASES - 1),
    )
    return (
        b.join(F.broadcast(offs), "bucket")
        .withColumn("cum_tokens", cum)
        .select("doc_id", "n_tokens", "cum_tokens", phase.alias("phase"))
        .orderBy("doc_id")
    )
