"""Text-analysis operators for a large-scale training-data pipeline
(t01–t16): token counting, quality scoring, language heuristic, document
fingerprinting.  All native column expressions over the ``documents`` table;
each has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    STOPWORDS,
    normalized_fingerprint,
    punct_count,
    stopword_count,
    tokens,
)
from ..cache import materialize
from ..tables import load_table, load_wide, small_input, table_bytes
from .registry import query

_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


# ---------------------------------------------------------------- t01 token count
@query(
    "t01_token_count",
    r"""SELECT doc_id,
               len(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')) AS n_tokens,
               length(trim(text)) AS n_chars_norm
        FROM documents ORDER BY doc_id""",
)
def t01(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return (
        d.select(
            "doc_id",
            F.size(tokens("text")).alias("n_tokens"),
            F.length(F.trim(F.col("text"))).alias("n_chars_norm"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- t02 quality score
@query(
    "t02_quality_score",
    rf"""SELECT doc_id, n_tokens, n_stop,
                round(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0 END, 4) AS stop_ratio,
                round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0 END, 4) AS punct_ratio,
                round(least(n_tokens / 100.0, 1.0)
                      * (1 - CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0 END), 4) AS quality
         FROM (
           SELECT doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')) AS DOUBLE) AS n_tokens,
                  CAST(len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+'),
                                       x -> x IN {_STOP_SQL})) AS DOUBLE) AS n_stop,
                  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS n_punct,
                  CAST(length(text) AS DOUBLE) AS n_chars
           FROM documents) t
         ORDER BY doc_id""",
    doc="Length/stopword/punctuation quality heuristic — the classic cheap "
    "pre-filter for LLM training corpora; one narrow projection, no shuffle.",
)
def t02(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    tok = tokens("text")
    base = d.select(
        "doc_id",
        F.size(tok).cast("double").alias("n_tokens"),
        stopword_count(tok).cast("double").alias("n_stop"),
        punct_count("text").cast("double").alias("n_punct"),
        F.length("text").cast("double").alias("n_chars"),
    )
    stop_ratio = F.when(F.col("n_tokens") > 0, F.col("n_stop") / F.col("n_tokens")).otherwise(0.0)
    punct_ratio = F.when(F.col("n_chars") > 0, F.col("n_punct") / F.col("n_chars")).otherwise(0.0)
    return (
        base.select(
            "doc_id",
            "n_tokens",
            "n_stop",
            F.round(stop_ratio, 4).alias("stop_ratio"),
            F.round(punct_ratio, 4).alias("punct_ratio"),
            F.round(F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * (1 - stop_ratio), 4).alias(
                "quality"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- t03 language heuristic
@query(
    "t03_lang_heuristic",
    rf"""SELECT doc_id,
                CASE WHEN len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+'),
                                          x -> x IN {_STOP_SQL})) >= 3 THEN 'en'
                     ELSE 'unk' END AS lang_pred
         FROM documents ORDER BY doc_id""",
    doc="Stopword-profile language heuristic (n-gram language-ID would swap in "
    "a per-language profile table joined by broadcast; structure identical).",
)
def t03(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    n_stop = stopword_count(tokens("text"))
    return (
        d.select(
            "doc_id",
            F.when(n_stop >= 3, "en").otherwise("unk").alias("lang_pred"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- t04 fingerprint
@query(
    "t04_fingerprint",
    r"""SELECT doc_id,
               substr(md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')), 1, 16) AS fp
        FROM documents ORDER BY doc_id""",
)
def t04(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", normalized_fingerprint("text").alias("fp")).orderBy("doc_id")


# ---------------------------------------------------------------- t05 BPE-ish tokens
# GPT-2-style pre-tokenizer regex over lowercased text: contraction suffixes,
# space-prefixed letter runs, digit runs, punctuation runs.  No lookarounds or
# backrefs, so Java regex (Spark) and RE2 (DuckDB) match identically.
_BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^ \t\n\x0b\f\ra-z0-9]+"
_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")


@query(
    "t05_bpe_tokens",
    rf"""SELECT doc_id,
                len(regexp_extract_all(lower(text), '{_BPE_PAT_SQL}')) AS n_bpe,
                len(list_distinct(regexp_extract_all(lower(text), '{_BPE_PAT_SQL}'))) AS n_uniq
         FROM documents ORDER BY doc_id""",
    doc="BPE-ish token counting: one regexp_extract_all pass with the GPT-2 "
    "pre-tokenizer pattern — pure map-side narrow projection; at 100 TB this "
    "is a single scan with zero shuffle (the ORDER BY exists only for the "
    "deterministic oracle compare).",
)
def t05(spark: SparkSession, sf: str) -> DataFrame:
    d = load_wide(spark, sf, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PAT), 0)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------- t06 winnowing fingerprint
_WIN_K = 8  # char k-gram width
_WIN_W = 4  # winnowing window (hashes per window)
_WIN_B = 31  # polynomial rolling-hash base

# gram hash = Σ codepoint(c_j) · B^(k-1-j) — the textbook rolling hash
# (computed here by vectorized dot product, in the oracle by an unrolled
# 8-term sum).  Max value 255·(31^8-1)/30 ≈ 2.3e11: exact in BIGINT/int64.
_WIN_POWERS = [_WIN_B ** (_WIN_K - 1 - j) for j in range(_WIN_K)]

_GRAM_HASH_SQL = " + ".join(
    f"CAST(ascii(substr(norm, CAST(i + {j} AS INT), 1)) AS BIGINT) * {p}"
    for j, p in enumerate(_WIN_POWERS)
)
# short-doc case: polynomial over all L chars, exponents B^(L-j)
_SHORT_HASH_SQL = (
    "COALESCE(list_sum(list_transform(range(1, length(norm) + 1), "
    f"j -> CAST(ascii(substr(norm, CAST(j AS INT), 1)) AS BIGINT) "
    f"* CAST(pow({_WIN_B}, length(norm) - j) AS BIGINT))), 0)"
)


@query(
    "t06_winnow_fingerprint",
    rf"""WITH n AS (SELECT doc_id,
                           regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g') AS norm
                    FROM documents),
         h AS (SELECT doc_id,
                      CASE WHEN length(norm) >= {_WIN_K}
                           THEN list_transform(range(1, length(norm) - {_WIN_K} + 2),
                                               i -> {_GRAM_HASH_SQL})
                           ELSE [{_SHORT_HASH_SQL}] END AS hs
               FROM n),
         s AS (SELECT doc_id,
                      CASE WHEN len(hs) >= {_WIN_W}
                           THEN list_transform(range(1, len(hs) - {_WIN_W} + 2),
                                               j -> list_min(hs[j:j + {_WIN_W} - 1]))
                           ELSE [list_min(hs)] END AS sel
               FROM h),
         f AS (SELECT doc_id, list_sort(list_distinct(sel)) AS fps FROM s)
         SELECT doc_id, len(fps) AS n_fp,
                md5(array_to_string(fps, ',')) AS fp_digest
         FROM f ORDER BY doc_id""",
    doc="Winnowing document fingerprint (Schleimer et al.): polynomial "
    f"rolling hash of every char {_WIN_K}-gram, keep the minimum in each "
    f"window of {_WIN_W} consecutive hashes, emit the distinct selected set "
    "as a digest.  Guarantees any shared substring ≥ k+w-1 chars yields a "
    "shared fingerprint — the standard near-dup/plagiarism sketch.  At "
    "100 TB one scan, no shuffle, ~|doc|/w fingerprints per doc.",
)
def t06(spark: SparkSession, sf: str) -> DataFrame:
    # One Arrow pass per doc, fully numpy-vectorized: codepoints via a
    # utf-32 view, gram hashes as one sliding-window matrix–vector product,
    # winnowing mins as a second sliding window, distinct+sort via
    # np.unique.  Only (doc_id, n_fp, digest) crosses to the JVM.  The
    # all-JVM higher-order form interpreted ~2000 hash lambdas per doc
    # (1.9 s at sf0.1); a per-gram hashlib loop was no better (1.8 s); the
    # vectorized rolling hash is the shape that wins (~0.6 s) — and is the
    # hash winnowing is actually defined with.  At 100 TB: one scan, no
    # shuffle, tiny output rows.
    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        from disq_original_spark.functions.pytwins import norm_text

        powers = np.array(_WIN_POWERS, dtype=np.int64)

        for pdf in batches:
            ids, nfps, digs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # NULL text follows the oracle's ELSE branch (hash [0]),
                # identical to the empty string.
                norm = norm_text(text) or ""
                cps = np.frombuffer(norm.encode("utf-32-le"), dtype="<u4").astype(
                    np.int64
                )
                if len(cps) >= _WIN_K:
                    hs = sliding_window_view(cps, _WIN_K) @ powers
                elif len(cps):
                    hs = np.array([cps @ powers[_WIN_K - len(cps) :]])
                else:
                    hs = np.array([0], dtype=np.int64)
                if len(hs) >= _WIN_W:
                    sel = sliding_window_view(hs, _WIN_W).min(axis=1)
                else:
                    sel = hs.min(keepdims=True)
                fps = np.unique(sel)
                ids.append(doc_id)
                nfps.append(len(fps))
                digs.append(
                    hashlib.md5(",".join(map(str, fps)).encode()).hexdigest()
                )
            yield pd.DataFrame({"doc_id": ids, "n_fp": nfps, "fp_digest": digs})

    d = load_wide(spark, sf, "documents")
    return (
        d.select("doc_id", "text")
        .mapInPandas(gen, "doc_id long, n_fp int, fp_digest string")
        # materialize: shuffle-free below the sort — one winnowing pass,
        # not two
        .transform(lambda d: materialize(d, table_bytes(sf, "documents")))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- t07 PII scan/redact
# The synthetic corpus contains no PII, so the query plants deterministic
# pseudo-PII first (same CASE expression in both engines — the operator
# under test is the regex extraction + redaction, the standard scrub pass
# of a training-data pipeline).  Patterns avoid lookarounds/backrefs so
# Java regex (Spark) and RE2 (DuckDB) match identically.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


@query(
    "t07_pii_redact",
    rf"""SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(aug, '{_PII_SSN}')) AS BIGINT) AS n_ssn,
               CAST(len(regexp_extract_all(aug, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
               substr(md5(regexp_replace(regexp_replace(regexp_replace(aug,
                          '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_SSN}', '<SSN>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g')), 1, 16) AS redacted_fp
        FROM (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 5 = 0
                         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.org ok'
                         ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                         THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         ELSE '' END
                 || CASE WHEN doc_id % 11 = 0
                         THEN ' id 523-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         ELSE '' END AS aug
          FROM documents) t
        ORDER BY doc_id""",
)
def t07(spark: SparkSession, sf: str) -> DataFrame:
    """PII scan + redaction over ``documents``: count emails / SSNs / US
    phone numbers and emit a digest of the redacted text.  Single-scan
    map-side regex work (like t05) — embarrassingly parallel at any scale;
    the redacted digest stands in for writing the scrubbed corpus."""
    d = load_table(spark, sf, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 5 == 0, F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.org ok"))).otherwise(""),
        F.when(did % 7 == 0, F.concat(F.lit(" call 415-555-"), F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(""),
        F.when(did % 11 == 0, F.concat(F.lit(" id 523-45-"), F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(""),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>"), _PII_SSN, "<SSN>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return (
        d.select(
            "doc_id",
            F.size(F.regexp_extract_all(aug, F.lit(_PII_EMAIL), 0)).cast("long").alias("n_email"),
            F.size(F.regexp_extract_all(aug, F.lit(_PII_SSN), 0)).cast("long").alias("n_ssn"),
            F.size(F.regexp_extract_all(aug, F.lit(_PII_PHONE), 0)).cast("long").alias("n_phone"),
            F.substring(F.md5(redacted), 1, 16).alias("redacted_fp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- t08 Gopher repetition
@query(
    "t08_gopher_repetition",
    r"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+') AS w
                   FROM documents),
        words AS (SELECT doc_id, unnest(w) AS word FROM t),
        wc AS (SELECT doc_id, word, count(*) AS c FROM words GROUP BY 1, 2),
        wagg AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_n,
                        sum(length(word) * c) AS sum_len
                 FROM wc GROUP BY 1),
        bg AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w), 1)),
                                                    i -> w[i] || ' ' || w[i+1])) AS bigram
               FROM t),
        bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        bagg AS (SELECT doc_id,
                        sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_sum,
                        sum(c) AS n_bg
                 FROM bc GROUP BY 1)
        SELECT w.doc_id,
               CAST(w.n_words AS BIGINT) AS n_words,
               ((20000 * w.sum_len + w.n_words) // (2 * w.n_words))
                   / 10000.0 AS mean_word_len,
               ((20000 * w.top_n + w.n_words) // (2 * w.n_words))
                   / 10000.0 AS top_word_frac,
               CASE WHEN coalesce(b.n_bg, 0) > 0
                    THEN ((20000 * b.dup_sum + b.n_bg) // (2 * b.n_bg)) / 10000.0
                    ELSE 0.0 END AS dup_bigram_frac,
               (w.n_words BETWEEN 50 AND 100000
                AND w.sum_len / CAST(w.n_words AS DOUBLE) BETWEEN 3 AND 10
                AND w.top_n / CAST(w.n_words AS DOUBLE) < 0.2
                AND coalesce(b.dup_sum / CAST(b.n_bg AS DOUBLE), 0) < 0.6)
                 AS gopher_pass
        FROM wagg w LEFT JOIN bagg b USING (doc_id)
        ORDER BY doc_id""",
)
def t08(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition/quality rules (Rae et al. 2021 §A1.1, public):
    word count bounds, mean word length, most-common-word fraction,
    duplicate-bigram fraction, and the combined keep/drop flag.

    Scale shape: every metric here is DOC-LOCAL — a single document's word
    and bigram histograms fit in memory by definition — so the right plan is
    one fused Arrow pass per partition with ZERO shuffles (the t06 shape),
    not the corpus-wide explode → (doc, token) hash aggregation an earlier
    version used (that shape is for CORPUS-level histograms like t10, and
    cost four exchanges of every token to compute per-row-answerable stats;
    ~2x slower at sf0.1).  Only integer counts cross the Arrow boundary;
    all float division and rounding happens JVM-side so the oracle's double
    arithmetic is reproduced bit-for-bit."""

    def gen(batches):
        from collections import Counter

        import pandas as pd

        from disq_original_spark.functions.pytwins import py_tokens

        for pdf in batches:
            ids, n_words, sum_len, top_n, n_bg, dup_sum = [], [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = py_tokens(text)
                if words is None:  # NULL text: oracle's unnest drops the doc
                    continue
                wc = Counter(words)
                bc = Counter(map(" ".join, zip(words, words[1:])))
                ids.append(doc_id)
                n_words.append(len(words))
                sum_len.append(sum(map(len, words)))
                top_n.append(max(wc.values()))
                n_bg.append(len(words) - 1)
                dup_sum.append(sum(c for c in bc.values() if c > 1))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_words": n_words,
                    "sum_len": sum_len,
                    "top_n": top_n,
                    "n_bg": n_bg,
                    "dup_sum": dup_sum,
                }
            )

    d = load_wide(spark, sf, "documents")
    counts = d.select("doc_id", "text").mapInPandas(
        gen,
        "doc_id long, n_words long, sum_len long, top_n long, n_bg long, dup_sum long",
    )
    # The PASS FLAG keeps the raw float ratios: comparisons carry no
    # shortest-decimal asymmetry (both engines compute the identical
    # double and compare it identically), and count ratios can't land
    # within an ulp of the thresholds at any realistic doc length.  The
    # three ROUNDED outputs convert to half-up e4 integer division (r13
    # second-pass audit — integer ratios like sum_len/n_words CAN
    # construct exact .5e-4 boundaries, e.g. odd/160, where the engines'
    # rounding modes diverge; the t09/p02 idiom removes the class).
    mwl = F.col("sum_len") / F.col("n_words").cast("double")
    top_frac = F.col("top_n") / F.col("n_words").cast("double")
    dupf = F.when(
        F.col("n_bg") > 0, F.col("dup_sum") / F.col("n_bg").cast("double")
    ).otherwise(0.0)
    return (
        counts.select(
            "doc_id",
            "n_words",
            (
                F.expr("(20000 * sum_len + n_words) div (2 * n_words)") / 10000.0
            ).alias("mean_word_len"),
            (
                F.expr("(20000 * top_n + n_words) div (2 * n_words)") / 10000.0
            ).alias("top_word_frac"),
            F.when(
                F.col("n_bg") > 0,
                F.expr("(20000 * dup_sum + n_bg) div (2 * n_bg)") / 10000.0,
            )
            .otherwise(0.0)
            .alias("dup_bigram_frac"),
            (
                F.col("n_words").between(50, 100000)
                & mwl.between(3, 10)
                & (top_frac < 0.2)
                & (dupf < 0.6)
            ).alias("gopher_pass"),
        )
        # materialize: shuffle-free below the sort — one Counter pass, not
        # two
        .transform(lambda d: materialize(d, table_bytes(sf, "documents")))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- t09 contamination
_CONTAM_K = 13  # word n-gram length, the common benchmark-decontamination choice
_BENCH_MOD = 7  # doc_id % 7 == 0 plays the role of the benchmark/eval set


@query(
    "t09_contamination",
    rf"""WITH w AS (SELECT doc_id,
                           string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+') AS words
                    FROM documents),
         el AS (SELECT doc_id, len(words) - {_CONTAM_K - 1} AS n_shingles,
                       unnest(list_transform(
                           generate_series(1, len(words) - {_CONTAM_K - 1}),
                           i -> array_to_string(words[i:i + {_CONTAM_K - 1}], ' ')
                       )) AS s
                FROM w WHERE len(words) >= {_CONTAM_K}),
         b AS (SELECT DISTINCT s FROM el WHERE doc_id % {_BENCH_MOD} = 0),
         c AS (SELECT doc_id, n_shingles, s FROM el
               WHERE doc_id % {_BENCH_MOD} <> 0)
         SELECT c.doc_id, c.n_shingles, count(*) AS n_hits,
                ((20000 * count(*) + c.n_shingles) // (2 * c.n_shingles))
                    / 10000.0 AS contamination
         FROM c JOIN b USING (s)
         GROUP BY c.doc_id, c.n_shingles
         ORDER BY c.doc_id""",
)
def t09(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination screening: flag corpus documents sharing any
    word 13-gram with a designated benchmark/eval subset (docs whose id is
    divisible by 7 stand in for the eval set) and report the overlap
    fraction over shingle instances — the standard n-gram decontamination
    pass every training pipeline runs before training (public method, e.g.
    GPT-3 App. C).  The modulus-7 eval set is synthetic-data plumbing: it
    is the smallest modulus whose subset actually shares 13-grams with the
    rest of the driver's corpus, so the join path produces non-empty output.

    Scale shape: no shingle ARRAY is ever materialized — posexplode over an
    integer sequence yields one row per shingle position and each shingle is
    built by a per-row slice/concat inside whole-stage codegen (an earlier
    array_distinct(transform(...)) formulation was ~10x slower at sf0.1:
    InferFiltersFromGenerate duplicated the whole array build into a
    pre-repartition Filter, re-running it per input row on one thread).
    n_shingles is pure arithmetic (size(words) - k + 1).  The benchmark
    shingle set is tiny relative to the corpus and explicitly broadcast, so
    the corpus side streams through a broadcast hash join with no shuffle of
    its explosion; per-doc aggregation then shuffles only the hits."""
    d = load_wide(spark, sf, "documents")
    w = tokens("text")
    base = d.select("doc_id", w.alias("words")).where(F.size("words") >= _CONTAM_K)
    # sequence end is clamped so the expression stays total: the filter
    # InferFiltersFromGenerate derives from the explode may run before the
    # size(words) predicate, and sequence(0, negative) would go descending.
    idx = F.posexplode(
        F.sequence(F.lit(0), F.greatest(F.size("words") - _CONTAM_K, F.lit(0)))
    )
    exploded = base.select(
        "doc_id",
        (F.size("words") - (_CONTAM_K - 1)).cast("long").alias("n_shingles"),
        "words",
        idx.alias("p", "i"),
    ).select(
        "doc_id",
        "n_shingles",
        F.concat_ws(" ", F.slice(F.col("words"), F.col("i") + 1, _CONTAM_K)).alias("s"),
    )
    bench = (
        exploded.where(F.col("doc_id") % _BENCH_MOD == 0).select("s").distinct()
    )
    corpus = exploded.where(F.col("doc_id") % _BENCH_MOD != 0)
    return (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("*").alias("n_hits"))
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            # exact half-up e4 ratio (p05 pattern): TRUE integer division
            # (`div`, not `/` — long/long would detour through IEEE
            # doubles and cap exactness at 2^53), then ONE division by
            # 10000.0 whose result is a single correctly-rounded IEEE op
            # in both engines — no round() on a float quotient, so the
            # shortest-decimal trap (SCALE.md r11) cannot bite.
            (
                F.expr("(20000 * n_hits + n_shingles) div (2 * n_shingles)")
                / 10000.0
            ).alias("contamination"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- t10 unigram surprisal
@query(
    "t10_unigram_surprisal",
    r"""WITH words AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')) AS word
          FROM documents),
        vocab AS (SELECT word, count(*) AS c FROM words GROUP BY word),
        n AS (SELECT sum(c) AS total FROM vocab)
        SELECT w.doc_id,
               count(*) AS n_tokens,
               round(ln((SELECT total FROM n))
                     - sum(ln(v.c)) / count(*), 4) AS avg_surprisal,
               round(max(ln((SELECT total FROM n)) - ln(v.c)), 4) AS max_surprisal
        FROM words w JOIN vocab v USING (word)
        GROUP BY w.doc_id ORDER BY w.doc_id""",
)
def t10(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM surprisal scoring: train a corpus-wide unigram model (one
    count per vocabulary word) and score every document by its mean and max
    token surprisal -ln p(w) = ln N - ln c(w) — the classic cheap
    perplexity proxy used to rank training documents by "typicality" before
    a real LM filter is affordable.

    Scale shape: explode → hash-aggregate the vocabulary (shuffle keyed on
    word, map-side combine collapses each partition to its local vocab) →
    join the exploded words back to their counts on the SAME key: the
    aggregate's output is already hash-partitioned on word, so the join
    adds no exchange on the vocab side and the probe side shuffles once
    (at test scale Catalyst broadcasts the small vocab instead — strictly
    better) → per-doc aggregate.
    The corpus total N is a 1-row aggregate joined in by broadcast.  No
    driver collection, no cap: the vocabulary stays distributed (at 100 TB
    it is billions of rows — too big to broadcast, which is why the plan
    shuffle-joins on word instead)."""
    d = load_table(spark, sf, "documents")
    words = d.select("doc_id", F.explode(tokens("text")).alias("word"))
    vocab = words.groupBy("word").agg(F.count("*").alias("c"))
    # N = total token count — a partial-agg global count over the exploded
    # words (map-side partials, 1-row result), NOT a second vocab aggregate.
    total = words.agg(F.count("*").cast("double").alias("total"))
    scored = words.join(vocab, "word").join(F.broadcast(total))
    ln_n = F.log(F.col("total"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.first(ln_n) - F.sum(F.log("c")) / F.count("*"), 4
            ).alias("avg_surprisal"),
            F.round(F.max(ln_n - F.log("c")), 4).alias("max_surprisal"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------- t11 quality classifier
_T11_P = 1_000_003  # feature-hash modulus (prime)
_T11_KNUTH = 2654435761  # Knuth multiplicative constant, 32-bit golden ratio


@query(
    "t11_quality_classifier",
    rf"""WITH words AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')) AS word
          FROM documents WHERE text IS NOT NULL),
        hashed AS (
          SELECT doc_id,
                 ((CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % {_T11_P})
                  * {_T11_KNUTH}) % 4294967296 - 2147483648 AS w
          FROM words)
        SELECT doc_id,
               count(*) AS n_tokens,
               CAST(sum(w) AS BIGINT) AS logit_sum_q32,
               (CASE WHEN sum(w) >= 0
                     THEN (CAST(sum(w) AS HUGEINT) * 2000000
                           + count(*) * 4294967296)
                          // (count(*) * 8589934592)
                     ELSE -((CAST(-sum(w) AS HUGEINT) * 2000000
                             + count(*) * 4294967296)
                            // (count(*) * 8589934592))
                END) / 1000000.0 AS quality_logit,
               sum(w) > 0 AS keep
        FROM hashed GROUP BY doc_id ORDER BY doc_id""",
)
def t11(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-style hashed linear quality classifier: each token feature-
    hashes to a bucket (md5-prefix mod a prime — native in both engines),
    each bucket carries a deterministic weight, and the document score is the
    mean bucket weight — the shape of every production quality-filter model
    (real learned weights would replace the Knuth-derived stand-ins via a
    broadcast weight table without changing the plan).

    Engine-exact by construction: weights are INTEGERS in Q32 fixed point
    (``(h * KNUTH) mod 2^32 - 2^31``), so the per-document sum is exact
    integer arithmetic — order-independent, no floating-point accumulation
    drift between Spark's partition-parallel sum and DuckDB's sequential
    one.  quality_logit is the SIGNED half-up e6 integer division (r13,
    the last scheduled ``round(p/q, k)`` in this family): for magnitude
    ``(2·10^6·|s| + q) div (2q)`` with ``q = n·2^32``, sign re-applied —
    half away from zero, matching round()'s convention — then ONE final
    float division by 10^6.  The numerator rides a DECIMAL(38,0)/HUGEINT
    intermediate (|s| ≤ n·2^31, so 2·10^6·|s| wraps a long past ~2k
    tokens/doc — real documents exceed that); the divisor ``n·2^33``
    stays a long for any per-document n < 2^30.

    Scale shape: ONE nested codegen expression per row — tokenize, hash,
    weight, and sum entirely inside higher-order functions, zero explode,
    zero shuffle, zero Python.  At 100 TB this is a pure map-side scan;
    the orderBy exists only for the driver's deterministic compare."""
    # NULL-text docs are dropped on BOTH sides (the oracle's unnest emits
    # nothing for them; here an explicit filter) — without the filter this
    # pure projection would emit an all-NULL row the oracle never sees
    d = load_table(spark, sf, "documents").filter(F.col("text").isNotNull())
    tok = tokens("text")

    def w_int(word):
        # First 32 md5 bits, reduced mod the prime BEFORE the Knuth multiply
        # (h32 * KNUTH would overflow int64; h < 2^20 keeps every
        # intermediate exact in both engines).  Native md5 beats the earlier
        # per-character rolling-hash fold ~10x: higher-order-function
        # lambdas evaluate interpreted per element.
        h = (
            F.conv(F.substring(F.md5(word.cast("binary")), 1, 8), 16, 10)
            .cast("long")
            % _T11_P
        )
        return (h * _T11_KNUTH) % 4294967296 - 2147483648

    logit_sum = F.aggregate(
        tok, F.lit(0).cast("long"), lambda acc, word: acc + w_int(word)
    )
    n = F.size(tok)
    return (
        d.select(
            "doc_id",
            n.cast("long").alias("n_tokens"),
            logit_sum.alias("logit_sum_q32"),
            (logit_sum > 0).alias("keep"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logit_sum_q32",
            # signed half-up e6 of s/(n·2^32): DECIMAL(38,0) numerator
            # (2·10^6·|s| wraps a long past ~2k tokens/doc), long divisor,
            # one final IEEE division — the q58/t09 idiom with sign
            (
                F.expr(
                    "case when logit_sum_q32 >= 0"
                    " then (cast(logit_sum_q32 as decimal(38,0)) * 2000000"
                    "       + n_tokens * 4294967296)"
                    "      div (n_tokens * 8589934592)"
                    " else -((cast(-logit_sum_q32 as decimal(38,0)) * 2000000"
                    "         + n_tokens * 4294967296)"
                    "        div (n_tokens * 8589934592))"
                    " end"
                )
                / 1000000.0  # Python-side: DOUBLE division (a 1000000.0
                # literal INSIDE the SQL string parses as DECIMAL and the
                # result column would be decimal, not the declared double)
            ).alias("quality_logit"),
            "keep",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- t12 filter funnel
@query(
    "t12_filter_funnel",
    rf"""WITH t AS (
          SELECT doc_id,
                 string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+') AS t
          FROM documents WHERE text IS NOT NULL),
        s AS (
          SELECT doc_id, len(t) AS n_tokens,
                 len(list_filter(t, x -> x IN {_STOP_SQL})) AS n_stop,
                 (SELECT max(c) FROM (SELECT count(*) AS c
                                      FROM unnest(t.t) AS u(w) GROUP BY w)) AS top_count
          FROM t)
        SELECT doc_id, n_tokens, top_count,
               CASE WHEN n_tokens < 20 THEN 'too_short'
                    WHEN n_tokens > 90 THEN 'too_long'
                    WHEN n_stop * 20 < n_tokens THEN 'low_stopword'
                    WHEN top_count * 5 > n_tokens THEN 'repetitive'
                    ELSE 'pass' END AS reason,
               CASE WHEN n_tokens < 20 THEN false
                    WHEN n_tokens > 90 THEN false
                    WHEN n_stop * 20 < n_tokens THEN false
                    WHEN top_count * 5 > n_tokens THEN false
                    ELSE true END AS kept
        FROM s ORDER BY doc_id""",
)
def t12(spark: SparkSession, sf: str) -> DataFrame:
    """FineWeb/RefinedWeb-style quality-filter cascade with removal-reason
    attribution: each document is labeled by the FIRST rule it fails —
    too_short, too_long, low_stopword (Gopher's stop-word signal),
    repetitive (top-word fraction) — or 'pass'.  Reason codes are what make
    large-scale filter ablations possible (the per-rule funnel is one
    groupBy over this output).

    Every rule is an INTEGER comparison (n_stop * 20 < n_tokens instead of
    a float ratio), so both engines agree exactly with no rounding band.

    Scale shape: token/stopword counts are map-side higher-order
    expressions; the top-word count is the canonical two-level hash
    aggregate — (doc, word) partial counts, then max per doc — the same
    honest shuffle t08 pays, carrying only small count rows.  The verdict
    join is on doc_id, co-partitioned with the aggregate's own exchange."""
    # NULL-text docs drop on BOTH sides: explicitly here, and in the oracle's
    # WHERE — previously the inner join with the top-word aggregate dropped
    # them implicitly while the oracle mislabeled them as 'pass'
    d = load_table(spark, sf, "documents").filter(F.col("text").isNotNull())
    tok = tokens("text")
    base = d.select(
        "doc_id",
        F.size(tok).cast("long").alias("n_tokens"),
        F.size(F.filter(tok, lambda w: w.isin(*STOPWORDS))).cast("long").alias("n_stop"),
    )
    top = (
        d.select("doc_id", F.explode(tok).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_count"))
    )
    s = base.join(top, "doc_id")
    reason = (
        F.when(F.col("n_tokens") < 20, "too_short")
        .when(F.col("n_tokens") > 90, "too_long")
        .when(F.col("n_stop") * 20 < F.col("n_tokens"), "low_stopword")
        .when(F.col("top_count") * 5 > F.col("n_tokens"), "repetitive")
        .otherwise("pass")
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "top_count",
        reason.alias("reason"),
        (reason == "pass").alias("kept"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------- t13 BM25 retrieval
_T13_QUERIES: dict[int, tuple[str, ...]] = {
    0: ("spark", "window"),
    1: ("customer", "merge"),
    2: ("vector", "stream"),
}
_T13_TERMS = sorted({t for ts in _T13_QUERIES.values() for t in ts})
_T13_K1 = 1.2
_T13_B = 0.75
_T13_TOPK = 10

_T13_TOK_SQL = r"string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')"


def _t13_oracle() -> str:
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS DOUBLE)"
        f" AS df_{t}"
        for t in _T13_TERMS
    )
    tf_cols = ", ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf_{t}"
        for t in _T13_TERMS
    )

    def term_score(t: str) -> str:
        idf = f"ln(1 + (s.n - s.df_{t} + 0.5) / (s.df_{t} + 0.5))"
        return (
            f"CASE WHEN d.tf_{t} > 0 THEN {idf} * d.tf_{t} * {_T13_K1 + 1}"
            f" / (d.tf_{t} + {_T13_K1} * (1 - {_T13_B} + {_T13_B} * d.dl / s.avgdl))"
            f" ELSE 0 END"
        )

    q_rows = " UNION ALL ".join(
        f"SELECT {q} AS q_id, doc_id,"
        f" round({' + '.join(term_score(t) for t in ts)}, 4) AS score"
        f" FROM d CROSS JOIN s"
        for q, ts in sorted(_T13_QUERIES.items())
    )
    return f"""WITH tok AS (SELECT doc_id, {_T13_TOK_SQL} AS toks FROM documents),
        d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, {tf_cols} FROM tok),
        s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(toks) AS DOUBLE)) AS avgdl,
                     {df_cols}
              FROM tok),
        scored AS ({q_rows})
        SELECT q_id, doc_id, score,
               CAST(rank AS BIGINT) AS rank
        FROM (SELECT q_id, doc_id, score,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score DESC, doc_id) AS rank
              FROM scored WHERE score > 0) t
        WHERE rank <= {_T13_TOPK}
        ORDER BY q_id, rank"""


def _t13_eq(term: str):
    # single-parameter lambda: pyspark passes (element, index) to two-param
    # lambdas, so a default-arg capture would receive the INDEX column.
    return lambda x: x == F.lit(term)


@query(
    "t13_bm25",
    _t13_oracle(),
    doc="BM25 (Robertson/Okapi) retrieval scoring of the corpus against a "
    "fixed query set — the workhorse of retrieval-based data curation "
    "(finding domain-relevant training documents, retrieval-augmented "
    "filtering).  Corpus statistics (N, avgdl, per-term document "
    "frequencies) come from ONE aggregate pass producing a single row that "
    "is broadcast back; scoring is then a pure map-side projection — "
    "per-term tf from the materialized token array, idf/length "
    "normalization against the broadcast stats — and the final top-k "
    "ranks through the Partial+Final WindowGroupLimit pair, so only "
    "k rows per map partition per query reach the q_id exchange.  The "
    "corpus text itself never shuffles at any stage.",
)
def t13(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_wide(spark, sf, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    d = d.select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        *[
            F.size(F.filter("toks", _t13_eq(t))).cast("double").alias(f"tf_{t}")
            for t in _T13_TERMS
        ],
    )
    # r13 scale-gated stats attachment: the corpus feature pass (per-term
    # interpreted HOF filters over the token arrays — the expensive part)
    # is referenced by BOTH the stats aggregate and the scoring branch, and
    # column pruning gives the two branches different projections so the
    # load_wide exchange is never reused — the corpus is tokenized twice.
    # Below the small-input crossover, attach the global stats as
    # whole-frame window aggregates instead: one feature pass, no
    # broadcast-prep job (measured interleaved min/med of 5: join
    # 1.86/3.95 s, window 1.51/2.35 s).  Every windowed stat is an
    # integer-valued sum/count (dl sums are exact in doubles), so the
    # values are bit-identical to the aggregate+join form.  Above the
    # crossover the single-partition global window would funnel the whole
    # corpus through one task — keep the partial-aggregate + broadcast
    # join shape there.
    if small_input(sf, "documents"):
        wall = Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        d = (
            d.withColumn("n", F.count(F.lit(1)).over(wall).cast("double"))
            .withColumn("avgdl", F.avg("dl").over(wall))
            .select(
                "*",
                *[
                    F.sum((F.col(f"tf_{t}") > 0).cast("int"))
                    .over(wall)
                    .cast("double")
                    .alias(f"df_{t}")
                    for t in _T13_TERMS
                ],
            )
        )
        stats = None
    else:
        stats = d.agg(
            F.count("*").cast("double").alias("n"),
            F.avg("dl").alias("avgdl"),
            *[
                F.sum((F.col(f"tf_{t}") > 0).cast("int")).cast("double").alias(f"df_{t}")
                for t in _T13_TERMS
            ],
        )

    def term_score(t: str) -> F.Column:
        tf = F.col(f"tf_{t}")
        idf = F.log(
            F.lit(1) + (F.col("n") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        norm = tf + _T13_K1 * (1 - _T13_B + _T13_B * F.col("dl") / F.col("avgdl"))
        return F.when(tf > 0, idf * tf * (_T13_K1 + 1) / norm).otherwise(F.lit(0.0))

    per_q = F.array(
        *[
            F.struct(
                F.lit(q).alias("q_id"),
                F.round(
                    sum((term_score(t) for t in ts), F.lit(0.0)), 4
                ).alias("score"),
            )
            for q, ts in sorted(_T13_QUERIES.items())
        ]
    )
    base = d if stats is None else d.join(F.broadcast(stats))
    scored = (
        base
        .select("doc_id", F.explode(per_q).alias("qs"))
        .select("qs.q_id", "doc_id", "qs.score")
        .filter(F.col("score") > 0)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _T13_TOPK)
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------- t14 bigram LM
@query(
    "t14_bigram_surprisal",
    r"""WITH toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+') AS w
          FROM documents),
        bg AS (SELECT doc_id, w[ti] AS w1, w[ti] || ' ' || w[ti + 1] AS b
               FROM toks, UNNEST(range(1, len(w))) AS u(ti)),
        cb AS (SELECT b, count(*) AS c12 FROM bg GROUP BY b),
        ch AS (SELECT w1, count(*) AS h FROM bg GROUP BY w1)
        SELECT doc_id, count(*) AS n_bigrams,
               ((2 * sum(CAST(round((ln(h) - ln(c12)) * 1000000) AS BIGINT))
                 + 100 * count(*))
                // (200 * count(*))) / 10000.0 AS avg_surprisal,
               round(max(ln(h) - ln(c12)), 4) AS max_surprisal
        FROM bg JOIN cb USING (b) JOIN ch USING (w1)
        GROUP BY doc_id ORDER BY doc_id""",
    doc="Bigram-LM surprisal scoring — the KenLM-style upgrade of t10's "
    "unigram proxy: train corpus-wide bigram counts c(w1,w2) and history "
    "counts h(w1) (= Σ_w2 c(w1,w2), so p(w2|w1) = c12/h is a proper "
    "conditional), then score every document by mean and max conditional "
    "surprisal -ln p(w2|w1) = ln h - ln c12.  Low scores mark formulaic "
    "text, high scores mark disfluent text — the standard two-sided "
    "perplexity filter.\n\n"
    "Scale shape: bigrams materialize in-expression (zip_with over the "
    "token array — no self-join of the word explosion); both count tables "
    "hash-aggregate with map-side combine and join back on their own "
    "aggregation keys — each aggregate's output is already partitioned on "
    "its join key, so the count sides add no exchange and only the probe "
    "side shuffles per key; the bigram vocabulary stays distributed "
    "end-to-end (at 100 TB it is far too big to broadcast or collect).",
)
def t14(spark: SparkSession, sf: str) -> DataFrame:
    d = load_wide(spark, sf, "documents").select(
        "doc_id", tokens("text").alias("w")
    )
    n1 = F.greatest(F.lit(0), F.size("w") - 1)
    pairs = F.zip_with(
        F.slice("w", 1, n1),
        F.slice("w", 2, n1),
        lambda a, b: F.struct(a.alias("w1"), F.concat_ws(" ", a, b).alias("b")),
    )
    bg = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.b"
    )
    cb = bg.groupBy("b").agg(F.count("*").alias("c12"))
    ch = bg.groupBy("w1").agg(F.count("*").alias("h"))
    s = F.log("h") - F.log("c12")
    # per-row e6 micro-units summed as BIGINT (order-safe — the p05
    # pattern); the 4-decimal mean is the exact HALF-UP integer division
    # (2s+100n) div (200n) — NOT round(sum/1e6/n, 4), which lands on
    # exact .5*1e-4 boundaries by construction (integer micro-units) and
    # flips between Spark's HALF_UP and DuckDB's rounding (caught by the
    # round-11 sf0.1 mirror on one doc whose boundary only appears at
    # that scale).  `div` (DuckDB `//`) is TRUE integer division, so the
    # exactness holds unconditionally — long/long `/` would detour
    # through IEEE doubles and cap it at 2^53 (ADVICE r11).  max is
    # order-independent and stays float.
    s_e6 = F.round(s * 1_000_000).cast("long")
    cnt = F.count("*")
    return (
        bg.join(cb, "b")
        .join(ch, "w1")
        .groupBy("doc_id")
        .agg(
            cnt.alias("n_bigrams"),
            F.sum(s_e6).alias("_sum_e6"),
            F.round(F.max(s), 4).alias("max_surprisal"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.expr("(2 * _sum_e6 + 100 * n_bigrams) div (200 * n_bigrams)")
                / 10000.0
            ).alias("avg_surprisal"),
            "max_surprisal",
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------------ t15 fuzzy join
_T15_VARIANT_BASE = 2_000_000_000
_T15_KEYLEN = 24  # the matched 'entity name' = first 24 chars of the doc
_T15_QGRAM = 3
_T15_DF_CAP = 64  # drop q-grams appearing in more keys (the d04 posture)
_T15_MAX_DIST = 2


def _t15_gram_rows(spark: SparkSession, sf: str) -> DataFrame:
    """(id, key, q) q-gram blocking rows for the fuzzy join: truncated keys
    plus the deterministic adjacent-swap 'typo' variants, exploded into
    distinct 3-grams.  Shared by t15 (the join) and t16 (its audit)."""
    d = load_wide(spark, sf, "documents").filter(F.length("text") >= _T15_KEYLEN)
    orig = d.select(
        F.col("doc_id").alias("id"),
        F.substring("text", 1, _T15_KEYLEN).alias("key"),
    )
    swapped = F.concat(
        F.substring("text", 1, 2),
        F.substring("text", 4, 1),
        F.substring("text", 3, 1),
        F.substring("text", 5, _T15_KEYLEN - 4),
    )
    variants = d.filter(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + _T15_VARIANT_BASE).alias("id"),
        swapped.alias("key"),
    )
    k = orig.unionByName(variants)
    return k.select(
        "id",
        "key",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.lit(_T15_KEYLEN - _T15_QGRAM + 1)),
                    lambda i: F.col("key").substr(i, F.lit(_T15_QGRAM)),
                )
            )
        ).alias("q"),
    )


# shared k/g blocking CTEs (SQL twin of _t15_gram_rows) — used by t15 and t16
_T15_BLOCK_CTE = f"""k AS (
          SELECT doc_id AS id, substr(text, 1, {_T15_KEYLEN}) AS key
          FROM documents WHERE length(text) >= {_T15_KEYLEN}
          UNION ALL
          -- deterministic 'typo' variants: swap chars 3 and 4 (edit
          -- distance <= 2 from the original) for every 15th document
          SELECT doc_id + {_T15_VARIANT_BASE},
                 substr(text, 1, 2) || substr(text, 4, 1) || substr(text, 3, 1)
                   || substr(text, 5, {_T15_KEYLEN - 4})
          FROM documents WHERE doc_id % 15 = 0 AND length(text) >= {_T15_KEYLEN}),
        g AS (SELECT id, key,
                     unnest(list_distinct(list_transform(
                         generate_series(1, {_T15_KEYLEN - _T15_QGRAM + 1}),
                         qi -> substr(key, CAST(qi AS INTEGER), {_T15_QGRAM}))))
                       AS q
              FROM k)"""


@query(
    "t15_fuzzy_join",
    f"""WITH {_T15_BLOCK_CTE},
        keep AS (SELECT q FROM g GROUP BY q
                 HAVING count(*) BETWEEN 2 AND {_T15_DF_CAP}),
        cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id,
                        a.key AS ka, b.key AS kb
                 FROM g a
                 JOIN keep USING (q)
                 JOIN g b ON b.q = a.q AND a.id < b.id)
       SELECT a_id, b_id, CAST(levenshtein(ka, kb) AS INTEGER) AS dist
       FROM cand
       WHERE levenshtein(ka, kb) <= {_T15_MAX_DIST}
       ORDER BY a_id, b_id""",
    doc="Fuzzy entity matching (entity-resolution / record-linkage): keys "
    "within edit distance 2 pair up via q-gram blocking — shared 3-grams "
    "build capped postings lists (the d04 inverted-index posture, so a "
    "stopword-like gram never explodes), candidates meet in an equi-join "
    "on the gram, and the native levenshtein confirms.  The corpus is "
    "widened with deterministic adjacent-swap 'typo' variants so true "
    "fuzzy pairs exist at every scale.\n\n"
    "Scale shape: the d04 postings-list posture taken all the way — ONE "
    "gram pass groups (id, key) members per gram (one hash shuffle), the "
    "2..cap filter and the pair expansion happen inside each capped "
    "postings row (≤ C(cap,2) pairs per gram), so there is no self-join "
    "and the corpus is scanned once per key variant instead of the "
    "equi-join form's three gram subtrees; truncation observable via "
    "t16_blocking_audit; the confirm is a native codegen levenshtein "
    "over candidate pairs only.  This is how a billion-row customer "
    "table dedupes names in practice.",
)
def t15(spark: SparkSession, sf: str) -> DataFrame:
    grams = _t15_gram_rows(spark, sf)
    inv = (
        grams.groupBy("q")
        .agg(F.sort_array(F.collect_list(F.struct("id", "key"))).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= _T15_DF_CAP))
    )
    # members are id-sorted, so local expansion yields a_id < b_id directly
    pairs = inv.select(
        F.explode(
            F.expr(
                "flatten(transform(members, (x, i) -> "
                "transform(slice(members, i + 2, size(members)), "
                "y -> struct(x.id AS a_id, y.id AS b_id, "
                "x.key AS ka, y.key AS kb))))"
            )
        ).alias("p")
    ).select("p.a_id", "p.b_id", "p.ka", "p.kb")
    # confirm BEFORE dedup: each id carries exactly one key, so
    # distinct(a_id, b_id, dist) == the former distinct(a_id, b_id, ka, kb)
    # then confirm.  Catalyst already pushed the levenshtein<=dist filter
    # below the old distinct; what this shape adds is the NARROW dedup key —
    # the distinct exchange carries confirmed pairs with one int instead of
    # both 16-char keys, and levenshtein runs once instead of twice (pushed
    # filter + post-distinct projection).  r13 A/B min/med of 6 at sf0.1:
    # 2.69/3.23 s -> 2.34/2.71.
    # THRESHOLD levenshtein (r13 session 5): levenshtein(l, r, t) runs the
    # banded DP (O(len·(2t+1)) cells with early exit) and returns -1 above
    # t, so `>= 0` is exactly the old `<= _T15_MAX_DIST` and the kept dist
    # values are the true distances — value-identical (442/442 rows equal
    # at sf0.1).  Full-query interleaved A/B (one session, min/med of 7):
    # 1.635/1.878 -> 1.320/1.455 s, faster in all 6 warm rounds.
    return (
        pairs.select(
            "a_id",
            "b_id",
            F.levenshtein("ka", "kb", _T15_MAX_DIST).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
        .distinct()
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------- t16 blocking audit
@query(
    "t16_blocking_audit",
    f"""WITH {_T15_BLOCK_CTE},
        sz AS (SELECT q, count(*) AS n FROM g GROUP BY q)
        SELECT count(*) AS grams_total,
               CAST(coalesce(sum(CASE WHEN n > {_T15_DF_CAP} THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS grams_dropped,
               CAST(coalesce(sum(CASE WHEN n > {_T15_DF_CAP} THEN n ELSE 0 END), 0)
                    AS BIGINT) AS postings_dropped,
               CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS grams_singleton
        FROM sz""",
    doc="Truncation audit for t15's q-gram blocking: how many grams exceed "
    f"the document-frequency cap ({_T15_DF_CAP}) — i.e. blocking keys whose "
    "candidate pairs are silently never generated — and how many postings "
    "they carry, plus singleton grams (keys that can block with nothing).  "
    "The 'no silent caps' principle: run beside the fuzzy join and alert "
    "when postings_dropped grows; at 100 TB a stopword-like gram landing "
    "over the cap is expected, a large postings_dropped share is not.  "
    "Shares _t15_gram_rows; the audit is one slim (q) partial agg.",
)
def t16(spark: SparkSession, sf: str) -> DataFrame:
    from .auditing import cap_audit

    sz = _t15_gram_rows(spark, sf).groupBy("q").agg(F.count(F.lit(1)).alias("n"))
    return cap_audit(
        sz, _T15_DF_CAP,
        "grams_total", "grams_dropped", "postings_dropped", "grams_singleton",
    )


# ---------------------------------------------------------------- t17 heavy hitters
_T17_K = 25  # exact top-K tokens reported
_T17_CAP = 2048  # Misra–Gries counters per partition (candidate capacity)
# cap must comfortably exceed K: K tokens cannot each hold more than
# N/(K+1) mass, so the 2N/(cap+1) exactness bound needs cap >> K
assert _T17_CAP > 4 * _T17_K


def _mg_fold(counters: dict, batch: dict, cap: int) -> dict:
    """Merge a batch's exact token counts into a Misra–Gries summary of at
    most ``cap`` counters (mergeable-summaries form: combine, then subtract
    the (cap+1)-th largest residual from everything and drop the non-
    positive).  Each subtraction event removes ≥ (cap+1)·v total mass, so
    over a partition of n tokens the total undercount is ≤ n/(cap+1):
    every token with partition-local count > n/(cap+1) keeps a positive
    counter and survives into the candidate set."""
    for tok, c in batch.items():
        counters[tok] = counters.get(tok, 0) + c
    if len(counters) > cap:
        v = sorted(counters.values(), reverse=True)[cap]
        counters = {t: c - v for t, c in counters.items() if c > v}
    return counters


def _t17_candidates(cap: int):
    """mapInPandas worker factory: one Misra–Gries sketch per partition,
    emitted as one small batch of candidate tokens plus ONE sentinel row
    (token NULL, weight = exact partition token count) so the caller gets
    N for free — no separate corpus-wide count scan.  ``cap`` is captured
    by value (a closure, not a module global) so it ships to executors
    as configured driver-side.  Tokenization mirrors ``functions.tokens``
    EXCEPT lowering: the INPUT column is pre-lowered by the engine
    (``F.lower``), never by Python — JVM ``String.toLowerCase()`` on the
    non-ASCII path is default-locale-sensitive (tr_TR maps 'I'→'ı' where
    Python gives 'i'), so splitting engine-lowered text is the only way
    both passes are guaranteed the same case mapping on any executor
    locale.  No ``str.strip()``: Python strip removes Unicode whitespace
    (NBSP, \\x1c-\\x1f) that Spark's space-only ``trim`` keeps, which
    could normalize a true heavy hitter like '\\xa0foo' into a different
    candidate string and silently drop it from the exact top-K —
    splitting the raw lowered text and filtering empties yields exactly
    the engine's token set (trim only ever removes tokens the empty
    filter drops anyway)."""

    def worker(it):
        import pandas as pd

        counters: dict = {}
        n_tokens = 0
        for pdf in it:
            # vectorized tokenize+count (r14, guide §4.2): pandas str.split
            # delegates to the same re.split, and the empty filter drops the
            # '' boundary artifacts exactly like the old per-token loop did
            # (split never yields NaN from a str; explode of [''] is '') —
            # one value_counts per batch instead of a Python loop over every
            # token.  Interleaved A/B at sf0.1 (min/med of 6): loop
            # 1.31/1.44 s, vectorized 1.16/1.31 s, faster in all 6 rounds.
            s = pdf["text"].dropna()
            toks = s.str.split(r"[ \t\n\x0b\f\r]+").explode()
            toks = toks[(toks != "") & toks.notna()]
            batch = toks.value_counts().to_dict()
            n_tokens += sum(batch.values())
            counters = _mg_fold(counters, batch, cap)
        yield pd.DataFrame(
            {
                "token": list(counters) + [None],
                "weight": list(counters.values()) + [n_tokens],
            }
        )

    return worker


@query(
    "t17_heavy_hitters",
    rf"""SELECT rank, token, cnt FROM (
           SELECT token, cnt,
                  CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank
           FROM (
             SELECT token, count(*) AS cnt FROM (
               SELECT unnest(string_split_regex(lower(trim(text)),
                             '[ \t\n\x0b\f\r]+')) AS token
               FROM documents WHERE text IS NOT NULL) u
             WHERE token <> '' GROUP BY token) c) r
         WHERE rank <= {_T17_K} ORDER BY rank""",
    doc=f"Exact corpus-wide top-{_T17_K} frequent tokens WITHOUT shuffling "
    "the vocabulary: pass 1 runs a Misra–Gries sketch per partition "
    f"(mapInPandas, ≤ {_T17_CAP} counters), emitting RESIDUAL WEIGHTS, "
    "not just tokens.  Per-partition MG undercounts by at most "
    "n_p/(cap+1), so a token's summed residual R(x) ≥ C(x) − N/(cap+1); "
    "keeping only R(x) > N/(cap+1) therefore (a) retains every token "
    "with global count > 2N/(cap+1) and (b) bounds the candidate set to "
    "AT MOST cap+1 tokens REGARDLESS of partition count, because "
    "residuals sum to ≤ N — the candidate broadcast is provably safe at "
    "any scale (a token-set union would grow as cap×partitions: "
    "hundreds of millions of rows on a 100 TB corpus).  If the true "
    "K-th count clears 2N/(cap+1) (pinned by test_t17_mg_bound_holds "
    "AND guarded at runtime: a union-branch check raises loudly when "
    "the recounted K-th count misses the bound and the candidates do "
    "not cover the whole corpus — a drifted distribution degrades to "
    "an error, never a silently approximate 'exact' top-K), "
    "the top-K is exactly in the candidate set; pass 2 recounts ONLY "
    "the candidates with the engine tokenizer (broadcast semi join "
    "filters the token stream map-side) and ranks them.  At 100 TB a "
    "naive groupBy(token) shuffles the entire vocabulary (billions of "
    "distinct keys); here the only shuffles are the slim (token, "
    "weight) residual exchange (map-side combined, ≤ cap+1 rows per "
    "partition — the MG workers also emit the exact per-partition "
    "token total as a NULL-token sentinel, so N falls out of the same "
    "exchange instead of a third corpus scan) and the recount over "
    "≤ cap+1 candidate tokens — exactly two corpus scans.  "
    "Candidate-pass tokenization is exactly the engine's: the worker "
    "splits ENGINE-lowered text (JVM toLowerCase is locale-sensitive "
    "off the ASCII path, so Python must never lower) with verified "
    "space-only trim semantics; the exact recount uses the same "
    "``tokens`` expression as t01.",
)
def t17(spark: SparkSession, sf: str) -> DataFrame:
    # load_table, not load_wide (r14 measured): with the vectorized MG
    # worker the single-task Python pass at bench scale beats paying a
    # full-text repartition shuffle first (interleaved min/med of 6 at
    # sf0.1: 1.14/1.25 s narrow vs 1.44/1.58 s wide); at real scale the
    # scan splits naturally and the question is moot.
    d = load_table(spark, sf, "documents")
    return _t17_topk(d.filter(F.col("text").isNotNull()), _T17_K, _T17_CAP)


def _t17_topk(texts: DataFrame, k: int, cap: int) -> DataFrame:
    """t17's core, parameterized so tests can drive an adversarial corpus /
    sketch cap.  ``texts`` needs one non-null ``text`` column."""
    from pyspark.sql import Window

    tok = (
        texts.select(F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
    )
    # One MG pass yields both the residuals AND the exact total token
    # count (NULL-token sentinel row per partition) — persisted because
    # two branches (threshold + candidates) read it; the aggregate is at
    # most cap×partitions + partitions rows, trivially memory-resident.
    # The source size is unknown here (-1), so it always takes the persist.
    # The worker gets ENGINE-lowered text so candidate tokenization and
    # the exact recount share one case mapping on any executor locale.
    grouped = materialize(
        texts.select(F.lower(F.col("text")).alias("text"))
        .mapInPandas(_t17_candidates(cap), "token string, weight long")
        .groupBy("token")
        .agg(F.sum("weight").alias("residual")),
        -1,
    )
    # N (total token count) and the candidate count collect as DRIVER
    # SCALARS — two 1-row jobs over the persisted MG aggregate, the same
    # sanctioned pattern as s03's corpus count.  Scalars instead of 1-row
    # broadcast frames because each broadcast(total) instance planned its
    # own prep future (no exchange reuse across the subqueries), and
    # concurrent prep futures RACE the cold `grouped` cache — every racer
    # re-ran the MG corpus scan (measured +0.4-0.7 s at sf0.1).  With
    # scalars the MG scan runs exactly once (here), the recount scan once
    # (at drain), and the guard costs one extra read of the tiny cache.
    stats_row = grouped.agg(
        F.sum(F.when(F.col("token").isNull(), F.col("residual"))).alias("n_total"),
        F.max(F.when(F.col("token").isNotNull(), F.col("residual"))).alias(
            "max_resid"
        ),
    ).collect()[0]
    n_total = int(stats_row["n_total"] or 0)
    max_resid = int(stats_row["max_resid"] or 0)
    cands = (
        grouped.filter(F.col("token").isNotNull())
        .filter(F.col("residual") * (cap + 1) > F.lit(n_total))
        .select("token")
    )
    # ---- runtime exactness guard (ADVICE r5 / VERDICT r5 directive #4) ----
    # The top-K is provably exact iff the K-th recounted count clears
    # 2N/(cap+1) (every non-candidate has true count <= 2N/(cap+1), so
    # nothing outside the candidate set can displace ranks 1..K), OR the
    # candidates cover the ENTIRE corpus (sum of exact candidate counts
    # == N => the recount was a full groupBy => exact by construction,
    # including the vocabulary-smaller-than-K case).  On any other
    # distribution the query must degrade to a loud error, not a silently
    # approximate "exact" top-K.  The candidates-EMPTY case (no output row
    # to carry a runtime check) fails loud right here at build time; the
    # nonempty case rides the OUTPUT rows: cand_total / kth_cnt come from
    # window aggregates over the same single-partition exchange the
    # ranking already pays, and the emitted cnt column raises on violation
    # (cnt is selected, so the check can never be pruned away).
    # "any candidate exists" falls out of the SAME aggregate as N (the
    # largest residual clears the threshold iff any token does) — one
    # driver job yields both scalars, no second cache read
    if n_total > 0 and max_resid * (cap + 1) <= n_total:
        raise ValueError(
            "t17 heavy-hitters exactness invariant violated: NO candidate "
            f"cleared the residual threshold over N={n_total} tokens — "
            f"every count is <= 2N/(cap+1={cap + 1}); the MG sketch cap is "
            "too small for this distribution"
        )
    counts = (
        tok.join(F.broadcast(cands), "token", "leftsemi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .withColumn("cand_total", F.sum("cnt").over(wall))
        .withColumn(
            "kth_cnt", F.max(F.when(F.col("rank") == k, F.col("cnt"))).over(wall)
        )
    )
    ok = (
        F.coalesce(F.col("kth_cnt"), F.lit(0)) * (cap + 1) > 2 * F.lit(n_total)
    ) | (F.col("cand_total") == F.lit(n_total))
    guarded_cnt = F.when(ok, F.col("cnt")).otherwise(
        F.raise_error(
            F.format_string(
                "t17 heavy-hitters exactness invariant violated: K-th "
                "count %d * (cap+1=%d) <= 2N (N=%d) and the candidate set "
                "covers only %d of N tokens — the MG sketch cap is too "
                "small for this distribution; the top-K would be silently "
                "approximate",
                F.coalesce(F.col("kth_cnt"), F.lit(0)),
                F.lit(cap + 1),
                F.lit(n_total),
                F.col("cand_total"),
            )
        ).cast("long")
    )
    return (
        ranked.filter(F.col("rank") <= k)
        .select("rank", "token", guarded_cnt.alias("cnt"))
        .orderBy("rank")
    )


# ---------------------------------------------------------------- t18 chunking
# W/S sized to the shipped corpus (p99 ≈ 97 tokens/doc) so full windows,
# overlapping interiors AND short tails all execute at every SF; a
# production RAG pipeline would run the same plan at e.g. 512/384.
_T18_W = 32  # tokens per chunk (the RAG/context-window width)
_T18_S = 24  # stride between chunk starts (W - S = 8 tokens of overlap)
# W >= S or tokens BETWEEN chunks are silently never emitted — coverage,
# the property test_overlap_and_coverage_properties pins, would break
assert _T18_W >= _T18_S > 0


@query(
    "t18_chunk_windows",
    rf"""WITH d AS (
           SELECT doc_id,
                  list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
                              tc -> tc <> '') AS toks
           FROM documents WHERE text IS NOT NULL),
         k AS (SELECT doc_id, toks, len(toks) AS n
               FROM d WHERE len(toks) > 0)
         SELECT doc_id, kk AS chunk_id,
                least({_T18_W}, n - kk * {_T18_S}) AS n_tokens,
                md5(array_to_string(
                      list_slice(toks, kk * {_T18_S} + 1,
                                 kk * {_T18_S} + least({_T18_W},
                                                       n - kk * {_T18_S})),
                      ' ')) AS chunk_fp
         FROM k, unnest(generate_series(0, (n - 1) // {_T18_S})) AS t(kk)
         ORDER BY doc_id, chunk_id""",
    doc=f"Sliding-window document chunking (RAG indexing / context-window "
    f"prep): each document splits into {_T18_W}-token chunks whose starts "
    f"advance by {_T18_S} tokens ({_T18_W - _T18_S} tokens of overlap so "
    "no answer span is ever cut without a copy), chunk k covering tokens "
    "[k·S+1, k·S+W] with a shorter tail; whitespace-only and empty "
    "documents drop.  Emits (doc_id, chunk_id, n_tokens, chunk_fp) with "
    "the md5 fingerprint pinning the exact chunk text cross-engine while "
    "keeping the output slim (the text itself would multiply the corpus "
    "by ~W/S in the result set).\n\n"
    "Scale shape: the entire operator is scan → codegen project → "
    "explode — NO shuffle, no Python, no lambda re-evaluation (split/"
    "slice/array_join are native collection ops; the one filter lambda "
    "runs once per token array).  At 100 TB it is embarrassingly "
    "parallel and output-bound; the final ORDER BY is presentation-only "
    "for the bounded driver compare and would be dropped in a pipeline "
    "sink.  Tokenization is the raw whitespace split (NO lowercasing or "
    "trim — chunks must preserve the original text; leading/trailing "
    "whitespace yields empty tokens the filter drops on both engines).",
)
def t18(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    # array_remove(split, '') == filter(split, x -> x != ''): split yields
    # no nulls, so removing every '' is exactly the lambda — but
    # array_remove is a native collection op in whole-stage codegen while
    # F.filter's lambda is interpreted per token (r13, guide §4.2)
    toks = F.array_remove(F.split(F.col("text"), r"[ \t\n\x0b\f\r]+"), "")
    base = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", toks.alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    ks = F.sequence(
        F.lit(0).cast("long"),
        F.floor((F.col("n") - 1) / F.lit(_T18_S)),
    )
    ch = base.select("doc_id", "toks", "n", F.explode(ks).alias("chunk_id"))
    ln = F.least(
        F.lit(_T18_W).cast("long"),
        F.col("n") - F.col("chunk_id") * _T18_S,
    )
    chunk = F.slice(
        F.col("toks"), (F.col("chunk_id") * _T18_S + 1).cast("int"), ln.cast("int")
    )
    return (
        ch.select(
            "doc_id",
            F.col("chunk_id"),
            ln.alias("n_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
        )
        # materialize: the split+explode+md5 chain is shuffle-free below the
        # sort, so the range sampler re-ran all of it; the materialized rows
        # are exactly what the sort exchange ships anyway
        .transform(lambda d: materialize(d, table_bytes(sf, "documents")))
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------- t19 keywords
_T19_K = 5  # keywords reported per document


@query(
    "t19_keyword_tfidf",
    rf"""WITH tok AS (
           SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(trim(text)),
                                       '[ \t\n\x0b\f\r]+'),
                    tc -> tc <> '')) AS term
           FROM documents WHERE text IS NOT NULL),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM tok GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df
                FROM (SELECT DISTINCT doc_id, term FROM tf) u GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf, df.df,
                  CAST(floor(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0)
                             * 1000000 + 0.5) AS BIGINT) AS score_micro
           FROM tf JOIN df USING (term) CROSS JOIN n),
         ranked AS (
           SELECT doc_id, term, tf, df, score_micro,
                  CAST(row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY score_micro DESC, term) AS INT) AS rank
           FROM scored)
         SELECT doc_id, rank, term, tf, df, score_micro
         FROM ranked WHERE rank <= {_T19_K}
         ORDER BY doc_id, rank""",
    doc=f"Per-document keyword extraction: top-{_T19_K} terms by smoothed "
    "TF-IDF (sklearn-style idf = ln((N+1)/(df+1)) + 1) — the tagging/"
    "routing primitive of corpus curation, and the transpose of t13's "
    "retrieval direction (top docs per query there; top terms per doc "
    "here).  Ranking runs over MICRO-ROUNDED integer scores on both "
    "engines: a last-ulp ln() difference between the JVM and DuckDB "
    "libm collapses in the rounding unless the exact value lands within "
    "one double ulp of a .5 micro boundary (~2^-30 per term — versus "
    "certain last-ulp exposure if raw doubles were compared); the float "
    "enters the output only as that integer.\n\n"
    "Scale shape: tf is the slim (doc_id, term, count) exchange with "
    "map-side combine; df aggregates the term key space (the distributed-"
    "vocabulary posture of t14 — no driver-side vocab, no broadcast of "
    "it); N is a broadcast 1-row aggregate; the tf⋈df equi-join shuffles "
    "only the slim tf rows; the per-doc top-k plans as the Partial+Final "
    "WindowGroupLimit pair, so at most k rows per doc per partition "
    "reach the final doc_id exchange.  Document text never shuffles.",
)
def t19(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf, "documents")
    tok = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = tf.agg(F.countDistinct("doc_id").alias("n"))
    if small_input(sf, "documents"):
        # r13 measured (interleaved min/med of 5): 1.65/2.70 s with the
        # df-aggregate + term join, 1.29/2.03 s as ONE term-partitioned
        # window — df(term) == count of tf rows per term, value-identical,
        # and it removes the third corpus scan (column pruning gives each
        # of the tf/df/n branches a DIFFERENT projection, so exchange
        # reuse never fires and each branch re-tokenizes the corpus).
        tfdf = tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        ).join(F.broadcast(n))
    else:
        # At corpus scale the window form funnels EVERY tf row of a hot
        # term ("the": one row per document) through one window task —
        # unsplittable skew (AQE skew handling covers joins only).  The
        # aggregate+join form partial-aggregates df map-side and leaves
        # the term-keyed probe join AQE-skew-splittable, at the cost of
        # one more corpus pass — the right trade above the crossover.
        df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        tfdf = tf.join(df, "term").join(F.broadcast(n))
    score = (
        F.col("tf")
        * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
    )
    scored = tfdf.select(
        "doc_id", "term", "tf", "df",
        F.floor(score * 1000000 + 0.5).cast("long").alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), "term"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _T19_K)
        .select("doc_id", "rank", "term", "tf", "df", "score_micro")
        .orderBy("doc_id", "rank")
    )
