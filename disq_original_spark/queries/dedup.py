r"""Deduplication operators for a training-data pipeline (d01–d15).

Scale design notes (the whole point of these):

- **Exact** (d01/d02): hash-groupBy on md5(text) — one shuffle of (hash, id),
  never of the full text.  At 100 TB you shuffle ~50 bytes/doc.
- **MinHash+LSH** (d03): the whole signature (shingling + seeded md5s + mins)
  is ONE Arrow-batched map pass; only the ~70-byte signature row reaches the
  JVM.  The only shuffle groups (doc_id, band_key) into postings lists whose
  pairs expand locally, and buckets above _BUCKET_CAP are dropped (the
  boilerplate/skew guard), mirrored in the oracle's HAVING.
- **N-gram Jaccard** (d04): the same fused pass emits (doc_id, 64-bit hash)
  postings rows; ONE groupBy fuses the document-frequency cap and the
  inverted index; candidate pairs expand from each capped postings list
  (≤ C(cap,2) per shingle) — there is no self-join anywhere, so the worst
  case is bounded by cap, not by corpus skew.
- **SimHash** (d06): fused Arrow pass (tokens + md5 + numpy bit voting)
  emitting only (doc_id, 16-bit signature); candidate pairing (tests) uses
  the pigeonhole band trick (equal half ⇒ hamming ≤ threshold candidates),
  again an equi-join.
- **Embedding near-dup** (d05): label-blocked cosine join (blocking key stands
  in for an IVF/LSH bucket id at scale).
- **Cluster assignment** (d07): connected components over the LSH candidate
  graph by alternating large-star/small-star (operators/graph.py) — O(log n)
  rounds, each one SQL statement with three slim two-column shuffles (two
  window mins, one dedup that also flags star-forest violations), edges
  checkpointed so lineage stays flat (under AQE each checkpoint runs those
  3 shuffle jobs at call time), an exact stop test that is one isEmpty job
  per round, loud failure instead of silently-unconverged labels.

Every query has a DuckDB oracle computing the *identical* deterministic
expression (seeded md5 minhash uses lexicographic-min over fixed-width hex,
which both engines order identically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import materialize
from ..tables import load_table, load_wide, table_bytes
from .registry import query

# DuckDB fragments mirrored by the Spark builders -----------------------------
_TOK_SQL = r"string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')"
# word 5-gram shingles; short docs collapse to one whole-doc shingle
_SHINGLES_SQL = (
    f"CASE WHEN len({_TOK_SQL}) >= 5 THEN "
    f"list_transform(range(1, len({_TOK_SQL}) - 3), "
    f"i -> array_to_string(({_TOK_SQL})[i:i+4], ' ')) "
    f"ELSE [array_to_string({_TOK_SQL}, ' ')] END"
)


# ---------------------------------------------------------------- d01 exact dedup
@query(
    "d01_exact_dedup",
    """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
       FROM documents GROUP BY md5(text) ORDER BY h""",
    doc="Exact dedup: hash-groupBy; shuffle carries (hash, doc_id) only.",
)
def d01(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return (
        d.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n"))
        .orderBy("h")
    )


# ---------------------------------------------------------------- d02 dedup stats
@query(
    "d02_dedup_stats",
    """SELECT count(*) AS total, count(DISTINCT md5(text)) AS uniq
       FROM documents""",
)
def d02(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_distinct(F.md5("text")).alias("uniq"),
    )


# ---------------------------------------------------------------- d03 minhash LSH
_N_HASHES = 8
_N_BANDS = 4  # bands of 2 hashes each

# 8 minhash functions from 2 md5s per shingle: each md5's 32 hex chars slice
# into 4×8-char (32-bit) hashes; lexicographic min of fixed-width hex ==
# numeric min.  Explode-once + partial-agg min keeps the shuffle tiny.
_SLICES = [(s, 1 + 8 * i) for s in range(2) for i in range(4)]  # (salt_idx, hexpos)

_SIG_AGG_SQL = ", ".join(
    f"min(substr(h{s}, {p}, 8)) AS mh{j}" for j, (s, p) in enumerate(_SLICES)
)
_BANDS_SQL = "\n UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, mh{2 * b} || mh{2 * b + 1} AS band_key FROM sig"
    for b in range(_N_BANDS)
)
_BUCKET_CAP = 64  # drop LSH buckets larger than this (boilerplate guard)


# Python twins of the shingle/token expressions live in functions.pytwins —
# the single source of the cross-engine normalization semantics.
from ..functions import tokens  # noqa: E402
from ..functions.pytwins import py_shingles as _py_shingles  # noqa: E402
from ..functions.pytwins import py_tokens as _py_tokens  # noqa: E402


def _doc_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, mh0..mh7) minhash signatures, computed in ONE Arrow pass.

    Everything heavy — shingling and 2 md5s per shingle — happens in Python
    and only the 8×8-hex signature row crosses back to the JVM (~70 B/doc).
    An earlier variant computed shingles in a pandas UDF and md5s in JVM
    transforms; shipping the shingle arrays through Arrow and breaking
    codegen made it 2× SLOWER than pure-JVM — the transfer, not the
    compute, is what must stay small.  hashlib.md5 hex == Spark md5() ==
    DuckDB md5(), so oracle parity is exact.

    The mh slots are emitted as 4-BYTE BINARY slices of the raw digests,
    not 8-hex-char strings (r14): every Spark consumer treats them as
    opaque equality/grouping keys (band keys, d14's estimate slots), and
    fixed-width hex <-> bytes is an order-preserving bijection, so the
    per-doc minimum over big-endian uint32 slices is the SAME element the
    oracle's lexicographic hex min selects.  That lets the worker skip hex
    encoding entirely and take the 8 per-slice minimums as ONE numpy
    column-min over the packed digest matrix instead of 8 Python
    comparisons per shingle."""
    schema = "doc_id long, " + ", ".join(
        f"mh{j} binary" for j in range(len(_SLICES))
    )

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in ("doc_id", *[f"mh{j}" for j in range(len(_SLICES))])}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                sh = _py_shingles(text)
                if sh is None:
                    # NULL text: the oracle keeps a NULL-signature row whose
                    # NULL band_key can never join; omitting the doc gives
                    # the identical pair set.
                    continue
                # one (n_shingles x 8) big-endian uint32 matrix: row = the
                # two 16-byte digests of one shingle, columns = the 8
                # _SLICES positions in order (a-digest slices 0..3 then
                # b-digest slices 0..3); the column min IS the per-slot
                # minhash
                buf = b"".join(
                    md5(b"a:" + e).digest() + md5(b"b:" + e).digest()
                    for e in (s.encode() for s in sh)
                )
                mins_be = (
                    np.frombuffer(buf, dtype=">u4")
                    .reshape(-1, len(_SLICES))
                    .min(axis=0)
                    .astype(">u4")
                    .tobytes()
                )
                out["doc_id"].append(doc_id)
                for j in range(len(_SLICES)):
                    out[f"mh{j}"].append(mins_be[4 * j : 4 * j + 4])
            yield pd.DataFrame(out)

    d = load_wide(spark, sf, "documents")
    return d.select("doc_id", "text").mapInPandas(gen, schema)


def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) rows from a signature frame — the LSH
    banding shared by d03 (within-corpus pairs) and d09 (incremental).

    band_key is the 8-BYTE BINARY form of the two 8-hex-char minhash
    slots (unhex of their concat), not the 16-char hex string: the key is
    internal-only (grouped and joined on, never output) and fixed-width
    hex <-> bytes is a bijection, so every bucket is the same set while
    the band exchanges of d03/d07/d09/d12/d13/d14 ship half the key bytes
    (the d08 posture, guide §2.3 "narrower types").  r14 measured at
    sf0.1 / 8 cores: band-exchange shuffle write 498,835 -> 433,458 B
    (-13%; rows also carry doc_id/band_idx and hex compresses well), wall
    flat-to-slightly-better interleaved at 32 cores, all six oracle twins
    green — at 100 TB this exchange carries 4 rows per corpus document.
    The mh slots arrive binary from _doc_signatures, so the key is a
    plain concat."""

    def key(b: int) -> F.Column:
        return F.concat(F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}"))

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), key(b).alias("band_key"))
            for b in range(_N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", "b.band_idx", "b.band_key"
    )


@query(
    "d03_minhash_lsh",
    f"""WITH sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        hashed AS (SELECT doc_id, md5('a:' || s) AS h0, md5('b:' || s) AS h1 FROM ex),
        sig AS (SELECT doc_id, {_SIG_AGG_SQL} FROM hashed GROUP BY doc_id),
        bands AS ({_BANDS_SQL}),
        keep AS (SELECT band_idx, band_key FROM bands
                 GROUP BY band_idx, band_key
                 HAVING count(*) BETWEEN 2 AND {_BUCKET_CAP})
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN keep k ON a.band_idx = k.band_idx AND a.band_key = k.band_key
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        ORDER BY a_id, b_id""",
    doc="MinHash(8)+LSH(4 bands×2): signatures computed entirely map-side in "
    "one Arrow-batched pass (shingle+md5 stay in Python; only the 70-byte "
    "signature row reaches the JVM), then band postings lists pair "
    "candidates.  The only shuffle carries (doc_id, band_key); pair "
    "expansion happens inside each bucket's postings list instead of a "
    f"self-join, and buckets larger than {_BUCKET_CAP} docs are dropped "
    "outright (boilerplate guard — the skew bound that keeps worst-case "
    "pair expansion constant per bucket at corpus scale; mirrored in the "
    "oracle's HAVING; truncation observable via d13_lsh_bucket_audit).",
)
def d03(spark: SparkSession, sf: str) -> DataFrame:
    return _d03_candidate_pairs(spark, sf).distinct().orderBy("a_id", "b_id")


def _d03_candidate_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """d03's candidate pairs BEFORE the presentation-layer dedup/sort —
    (a_id, b_id) with a_id < b_id, possibly repeated across bands.  d03
    finishes with distinct + ORDER BY; d07 feeds this stream straight into
    connected_components, whose own canonicalize+distinct subsumes d03's
    (same key set, same exchange) — routing d07 through the full d03 would
    pay an extra distinct AND a range-partition sort whose output order the
    CC iteration immediately destroys."""
    bands = _band_rows(_doc_signatures(spark, sf))
    inv = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _BUCKET_CAP))
    )
    return (
        inv.select(F.explode(_pair_expansion()).alias("p"))
        .select("p.a_id", "p.b_id")
    )


def _pair_expansion() -> F.Column:
    """Expand a sorted ``ids`` array into its strictly-ordered pairs.  Used by
    the postings-list dedup plans: pair generation is local to the bucket row
    (bounded by the DF cap / bucket size), replacing an O(n²)-shuffle
    self-join with per-row expansion."""
    return F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a_id, y AS b_id))))"
    )


# ---------------------------------------------------------------- d04 n-gram jaccard
_DF_CAP = 64  # drop shingles appearing in more docs (boilerplate guard)


def _doc_shingle_hashes(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, s): each document's DISTINCT word-5-gram shingles as 64-bit
    md5-prefix hashes, in one Arrow pass — only (doc_id, hash) pairs reach
    the JVM, never the shingle strings (see _doc_signatures for why the
    transfer is what matters).  Shared by d04 (Jaccard postings) and d14
    (the estimate-vs-truth audit); oracles join on the shingle STRING —
    identical sets absent 64-bit collisions."""

    def gen(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids: list[int] = []
            hs: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                sh = _py_shingles(text)
                if sh is None:
                    continue
                for s in set(sh):
                    ids.append(doc_id)
                    hs.append(
                        int.from_bytes(
                            hashlib.md5(s.encode()).digest()[:8], "big", signed=True
                        )
                    )
            yield pd.DataFrame({"doc_id": ids, "s": hs})

    d = load_wide(spark, sf, "documents")
    return d.select("doc_id", "text").mapInPandas(gen, "doc_id long, s long")


@query(
    "d04_ngram_jaccard",
    f"""WITH sh AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM documents),
        ex0 AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        keep AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= {_DF_CAP}),
        ex AS (SELECT doc_id, ex0.s FROM ex0 JOIN keep ON ex0.s = keep.s),
        cnt AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS n FROM ex GROUP BY doc_id),
        shared AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                          CAST(count(*) AS DOUBLE) AS shared
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id)
        SELECT a_id, b_id,
               round(shared / (ca.n + cb.n - shared), 3) AS jac
        FROM shared
        JOIN cnt ca ON ca.doc_id = a_id
        JOIN cnt cb ON cb.doc_id = b_id
        WHERE round(shared / (ca.n + cb.n - shared), 3) >= 0.4
        ORDER BY a_id, b_id""",
    doc="Inverted-index Jaccard over distinct word 5-grams with a document-"
    "frequency cap (shingles in > DF_CAP docs are boilerplate and excluded — "
    "the standard guard that bounds pair blowup at corpus scale).  ONE "
    "groupBy on the 64-bit shingle hash builds capped postings lists "
    "(DF-cap filter and inverted index fused into the same shuffle); pairs "
    "expand locally per posting (≤ C(cap,2) each) — no self-join.  The "
    "postings index is persisted and reused for the per-doc shingle counts.",
)
def d04(spark: SparkSession, sf: str) -> DataFrame:
    ex0 = _doc_shingle_hashes(spark, sf)
    inv = (
        ex0.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= _DF_CAP)
        # (hash, ≤cap ids); feeds counts AND pairs — concurrent consumers,
        # so the persist above the gate is eager (cache.py r6); at bench
        # scale a persist barrier measurably LOSES (r13: 2.53 s -> 1.49 s
        # median without it) and the lazy checkpoint is taken instead
        .transform(
            lambda d: materialize(d, table_bytes(sf, "documents"), eager=True)
        )
    )
    cnt = (
        inv.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    shared = (
        inv.filter(F.size("ids") >= 2)
        .select(F.explode(_pair_expansion()).alias("p"))
        .groupBy(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
        .agg(F.count(F.lit(1)).cast("double").alias("shared"))
    )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    jac = F.round(
        F.col("shared") / (F.col("ca.n") + F.col("cb.n") - F.col("shared")), 3
    )
    return (
        shared.join(ca, F.col("ca.doc_id") == F.col("a_id"))
        .join(cb, F.col("cb.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", jac.alias("jac"))
        .filter(F.col("jac") >= 0.4)
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------- d05 embedding near-dup
# Near-dup cosine threshold.  A production run uses ~0.95; the synthetic
# corpus is iid-random (max same-label cosine ≈ 0.48 at sf0.01), so 0.95
# can never fire and the oracle would only ever compare empty sets.  0.4
# sits inside the synthetic data's signal band, so the hash check verifies
# real pairs at every sf while the operator/plan is unchanged.
_NEARDUP_COS = 0.4


@query(
    "d05_embedding_neardup",
    f"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
       FROM embeddings a JOIN embeddings b
         ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) >= {_NEARDUP_COS}
       ORDER BY a_id, b_id""",
    doc="Embedding-cosine near-dup with label blocking (blocking key = IVF/LSH "
    "bucket at scale).  Arrow-batched applyInPandas per block: one numpy gram "
    "matrix per bucket instead of per-pair expression evaluation — the same "
    "shape a GPU/IVF implementation takes; ~20× faster than the "
    "zip_with/aggregate form.",
)
def d05(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    e = load_table(spark, sf, "embeddings")

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []}).astype(
                {"a_id": "int64", "b_id": "int64", "cos_sim": "float64"}
            )
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        m = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        gram = np.round(m @ m.T, 4)
        ai, bi = np.triu_indices(len(ids), k=1)  # ids sorted ⇒ a_id < b_id
        mask = gram[ai, bi] >= _NEARDUP_COS
        return pd.DataFrame(
            {"a_id": ids[ai[mask]], "b_id": ids[bi[mask]], "cos_sim": gram[ai, bi][mask]}
        )

    # Materialization point between the Python gram pass and the global
    # sort: the orderBy's range-sampling job otherwise re-runs the whole
    # applyInPandas stage (sampling pass + sort pass = two evaluations).
    # r13 interleaved A/B (min/med of 6, sf0.1): 1.422/1.704 s ->
    # 1.207/1.296 s, faster in all six rounds.  The materialized frame is
    # the thresholded pair list — tiny next to the gram pass at any scale.
    return (
        e.repartition("label")
        .groupBy("label")
        .applyInPandas(block_pairs, "a_id long, b_id long, cos_sim double")
        .transform(lambda d: materialize(d, table_bytes(sf, "embeddings")))
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------- d06 simhash signature
_SIMHASH_BITS = 16

_BIT_SUMS_SQL = ", ".join(
    f"sum(CASE WHEN (v >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(_SIMHASH_BITS)
)
_BIT_CHARS_SQL = " || ".join(
    f"CASE WHEN s{j} >= 0 THEN '1' ELSE '0' END" for j in range(_SIMHASH_BITS - 1, -1, -1)
)


@query(
    "d06_simhash",
    f"""WITH tok AS (SELECT doc_id,
                            unnest(list_distinct({_TOK_SQL})) AS w
                     FROM documents),
        h AS (SELECT doc_id,
                     CAST(('0x' || substr(md5(w), 1, 4)) AS INTEGER) AS v
              FROM tok),
        bits AS (SELECT doc_id, {_BIT_SUMS_SQL} FROM h GROUP BY doc_id)
        SELECT doc_id, {_BIT_CHARS_SQL} AS simhash
        FROM bits ORDER BY doc_id""",
    doc="16-bit SimHash over distinct tokens (md5-derived token hash, native "
    "bit ops both engines).  Near-dup candidates pair on equal 8-bit halves "
    "(pigeonhole) — exercised in tests.",
)
def d06(spark: SparkSession, sf: str) -> DataFrame:
    # Same fusion shape as d03/d04: tokenize + md5 + bit voting per doc in
    # one Arrow pass; only (doc_id, 16-char simhash) reaches the JVM — no
    # explode, no shuffle at all before the final ORDER BY.  The JVM form
    # (explode + md5 + conv + 16 conditional sums) cost 1.6 s at sf0.1.
    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ptoks = _py_tokens(text)
                if ptoks is None:
                    # oracle: unnest(NULL token list) yields no rows → the
                    # doc is absent from the signature output entirely
                    continue
                toks = set(ptoks)
                vs = np.fromiter(
                    (
                        int(hashlib.md5(w.encode()).hexdigest()[:4], 16)
                        for w in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                # bit j vote: +1 when set, -1 when clear → sum sign
                bits = (vs[:, None] >> np.arange(_SIMHASH_BITS)) & 1
                sums = (2 * bits - 1).sum(axis=0)
                sig = "".join(
                    "1" if sums[j] >= 0 else "0"
                    for j in range(_SIMHASH_BITS - 1, -1, -1)
                )
                ids.append(doc_id)
                sigs.append(sig)
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    d = load_wide(spark, sf, "documents")
    return (
        d.select("doc_id", "text")
        .mapInPandas(gen, "doc_id long, simhash string")
        # materialize before the sort: no shuffle below it, so without a
        # materialization point the whole Python tokenize+md5 pass runs
        # twice (range sampler + sort)
        .transform(lambda d: materialize(d, table_bytes(sf, "documents")))
        .orderBy("doc_id")
    )


def simhash_candidate_pairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Scalable SimHash pairing: equi-join on either 8-bit half (pigeonhole
    banding), then exact hamming filter.  Used by tests; not oracle-checked
    directly (d06 signatures are)."""
    halves = sig.select(
        "doc_id",
        "simhash",
        F.substring("simhash", 1, 8).alias("hi"),
        F.substring("simhash", 9, 8).alias("lo"),
    )
    a = halves.alias("a")
    b = halves.alias("b")
    lt = F.col("a.doc_id") < F.col("b.doc_id")
    cand = (
        a.join(b, (F.col("a.hi") == F.col("b.hi")) & lt)
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .unionByName(
            a.join(b, (F.col("a.lo") == F.col("b.lo")) & lt).select(
                F.col("a.doc_id").alias("a_id"),
                F.col("b.doc_id").alias("b_id"),
                F.col("a.simhash").alias("sa"),
                F.col("b.simhash").alias("sb"),
            )
        )
        .distinct()
    )
    hamming = F.aggregate(
        F.zip_with(
            F.split(F.col("sa"), ""),
            F.split(F.col("sb"), ""),
            lambda x, y: F.when(x != y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.withColumn("hd", hamming)
        .filter(F.col("hd") <= max_hamming)
        .select("a_id", "b_id", "hd")
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------- d07 dup clusters
_PAIRS_SQL = f"""sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        hashed AS (SELECT doc_id, md5('a:' || s) AS h0, md5('b:' || s) AS h1 FROM ex),
        sig AS (SELECT doc_id, {_SIG_AGG_SQL} FROM hashed GROUP BY doc_id),
        bands AS ({_BANDS_SQL}),
        keep AS (SELECT band_idx, band_key FROM bands
                 GROUP BY band_idx, band_key
                 HAVING count(*) BETWEEN 2 AND {_BUCKET_CAP}),
        pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                  FROM bands a
                  JOIN keep k ON a.band_idx = k.band_idx AND a.band_key = k.band_key
                  JOIN bands b
                    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id),
        edges AS (SELECT a_id, b_id FROM pairs
                  UNION ALL SELECT b_id, a_id FROM pairs)"""


@query(
    "d07_dup_clusters",
    f"""WITH RECURSIVE {_PAIRS_SQL},
        reach(node, root) AS (
            SELECT a_id, a_id FROM (SELECT DISTINCT a_id FROM edges)
            UNION
            SELECT e.b_id, r.root FROM reach r JOIN edges e ON e.a_id = r.node
        )
        SELECT node AS doc_id, min(root) AS cluster_id
        FROM reach GROUP BY node ORDER BY doc_id""",
    doc="Duplicate-cluster assignment: connected components over the "
    "MinHash-LSH candidate graph via alternating large-star/small-star "
    "(Kiveris et al. 2014, operators/graph.py) — O(log n) rounds instead "
    "of the O(component diameter) of min-label propagation, stopping "
    "exactly once the edges form a star forest, loud RuntimeError if the round "
    "cap is ever hit (never silently-unconverged labels).  The "
    "canonical-document-selection step of a dedup pipeline; oracle is a "
    "recursive-CTE transitive closure.",
)
def d07(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import connected_components

    # r13: feed CC the pre-distinct, pre-ORDER-BY pair stream — CC's own
    # canonicalize+distinct subsumes d03's dedup over the same key set, and
    # the range-partition sort's output order is destroyed by the first CC
    # round anyway.  Interleaved A/B at sf0.1 (ab_query.py, median of 5):
    # via full d03 13.07 s, via the raw stream 9.99 s.
    pairs = _d03_candidate_pairs(spark, sf)
    labels, _rounds = connected_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


# ---------------------------------------------------------------- d08 dup-span coverage
_SPAN_W = 15  # token window length for duplicated-span detection


@query(
    "d08_dup_span_coverage",
    rf"""WITH w AS (SELECT doc_id, {_TOK_SQL} AS words
                    FROM documents),
         win AS (SELECT doc_id, len(words) - {_SPAN_W - 1} AS n_windows,
                        unnest(list_transform(
                            generate_series(1, len(words) - {_SPAN_W - 1}),
                            i -> md5(array_to_string(words[i:i + {_SPAN_W - 1}], ' '))
                        )) AS h
                 FROM w WHERE len(words) >= {_SPAN_W}),
         dup AS (SELECT h FROM win GROUP BY h
                 HAVING count(DISTINCT doc_id) > 1)
         SELECT win.doc_id, win.n_windows,
                count(*) AS n_dup_windows,
                round(count(*) / CAST(win.n_windows AS DOUBLE), 4) AS dup_frac
         FROM win JOIN dup USING (h)
         GROUP BY win.doc_id, win.n_windows
         ORDER BY win.doc_id""",
)
def d08(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated-span coverage: for every document, the fraction of its
    15-token windows that also appear verbatim in ANOTHER document — the
    per-document duplicate-text coverage metric exact-substring dedup
    pipelines report (public method: Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"; theirs uses suffix
    arrays, this is the windowed form).

    Scale shape: windows are built row-wise inside codegen (posexplode of
    an integer sequence + per-row slice/md5 — no array materialization, the
    t09 lesson), keyed by md5 so Spark and the SQL oracle agree bit-for-bit.
    Two hash shuffles, ONE pass: the ≥2-distinct-docs predicate is
    min(doc_id)≠max(doc_id) computed as window functions over the
    window-hash partitioning — the windows subtree is scanned and hashed
    exactly once and there is no join (the earlier aggregate-then-join
    form rebuilt the whole md5 pass for each side of the same exchange);
    the doc-level count then shuffles only slim (doc, n) rows.  At 100 TB
    the window-hash shuffle is the honest cost of exact-substring
    detection — the production variant truncates the hash to 8 bytes and
    two-level counts, same plan shape."""
    d = load_wide(spark, sf, "documents")
    base = d.select("doc_id", tokens("text").alias("words")).where(
        F.size("words") >= _SPAN_W
    )
    win = base.select(
        "doc_id",
        (F.size("words") - (_SPAN_W - 1)).cast("long").alias("n_windows"),
        "words",
        # greatest() keeps the sequence total for short docs, in case an
        # inferred-from-generate filter ever evaluates it below the
        # size(words) predicate (the t09 lesson)
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.size("words") - _SPAN_W, F.lit(0)))
        ).alias("i"),
    ).select(
        "doc_id",
        "n_windows",
        # unhex: the window hash is a pure grouping key (never output), so
        # ship the 16-byte binary digest through the h exchange instead of
        # the 32-char hex string — identical key equality (hex<->bytes is a
        # bijection, so the h partitions are the same sets; the oracle
        # groups on the hex string).  Measured at sf0.1: h-exchange shuffle
        # write 8.29 -> 5.40 MB (-35%), window-stage task time 2.54 -> 0.94 s,
        # wall a wash (the map-side tokenize+md5 dominates at bench scale);
        # at 100 TB the exchange carries every window of the corpus and the
        # byte cut is the point (guide §2.3 "narrower types").
        F.unhex(
            F.md5(F.concat_ws(" ", F.slice(F.col("words"), F.col("i") + 1, _SPAN_W)))
        ).alias("h"),
    )
    # "appears in >1 distinct doc" ⟺ min(doc_id) != max(doc_id) over the
    # h partition — both window functions share ONE h exchange and keep
    # the md5/explode subtree single-scan (the aggregate-then-self-join
    # form recomputed it per side).  countDistinct would compile to TWO
    # exchanges for the same predicate.
    from pyspark.sql import Window

    wh = Window.partitionBy("h")
    flagged = win.select(
        "doc_id",
        "n_windows",
        (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).alias("dup"),
    )
    return (
        flagged.filter("dup")
        .groupBy("doc_id", "n_windows")
        .agg(F.count("*").alias("n_dup_windows"))
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows") / F.col("n_windows").cast("double"), 4
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- d09 incremental dedup
_D09_NEW_MOD = 10  # doc_id % 10 == 7 plays the role of the fresh crawl batch


@query(
    "d09_incremental_dedup",
    f"""WITH sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        hashed AS (SELECT doc_id, md5('a:' || s) AS h0, md5('b:' || s) AS h1 FROM ex),
        sig AS (SELECT doc_id, {_SIG_AGG_SQL} FROM hashed GROUP BY doc_id),
        bands AS ({_BANDS_SQL}),
        newdoc AS (SELECT doc_id, md5(text) AS h FROM documents
                   WHERE doc_id % {_D09_NEW_MOD} = 7),
        oldh AS (SELECT DISTINCT md5(text) AS h FROM documents
                 WHERE doc_id % {_D09_NEW_MOD} <> 7),
        oldbands AS (SELECT band_idx, band_key FROM bands
                     WHERE doc_id % {_D09_NEW_MOD} <> 7
                     GROUP BY band_idx, band_key
                     HAVING count(*) <= {_BUCKET_CAP}),
        nearids AS (SELECT DISTINCT b.doc_id FROM bands b
                    JOIN oldbands o ON b.band_idx = o.band_idx
                                   AND b.band_key = o.band_key
                    WHERE b.doc_id % {_D09_NEW_MOD} = 7)
        SELECT n.doc_id,
               COALESCE(n.h IN (SELECT h FROM oldh), FALSE) AS dup_exact,
               n.doc_id IN (SELECT doc_id FROM nearids) AS dup_near,
               (COALESCE(n.h IN (SELECT h FROM oldh), FALSE)
                OR n.doc_id IN (SELECT doc_id FROM nearids)) AS dup_any
        FROM newdoc n ORDER BY n.doc_id""",
)
def d09(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup of a fresh crawl batch against the EXISTING corpus
    — the production shape of dedup: you don't re-pair the whole corpus,
    you screen the new batch (docs with id % 10 == 7 stand in for it)
    against the old corpus's content hashes (exact) and LSH band keys
    (near), and report per-new-doc verdicts.

    Scale shape: the old corpus is represented only by its distinct
    content-hash set and its capped band-key postings — both derived once
    and in practice PERSISTED between crawls (here recomputed, same plan).
    The exact check is a hash-keyed left join (shuffle carries ~50 B/doc);
    the near check joins the new batch's bands against the old band keys
    on (band_idx, band_key) — the boilerplate cap bounds any hot key.
    Nothing ever pairs doc×doc; verdict rows are the only output."""
    # the signature pass feeds BOTH band branches (old postings + new-batch
    # probe) — without a materialization point the MapInPandas corpus pass
    # evaluates once per branch; the materialized frame holds the slim
    # ~70 B/doc signature rows instead (r13 session 5, the §10/§11 lens).
    # eager because the two band branches are CONCURRENT first consumers
    # that would race a lazy cold cache (the m04/g09 defect).  eager applies
    # to the persist above the gate only: below it the lazy checkpoint is
    # filled by the first job, so both branches may still run the pass —
    # time, never rows.
    sig = materialize(
        _doc_signatures(spark, sf), table_bytes(sf, "documents"), eager=True
    )
    bands = _band_rows(sig)
    is_new = F.col("doc_id") % _D09_NEW_MOD == 7
    d = load_table(spark, sf, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    old_h = d.filter(~is_new).select("h").distinct().withColumn("_e", F.lit(1))
    old_bands = (
        bands.filter(~is_new)
        .groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= _BUCKET_CAP)
        .select("band_idx", "band_key")
    )
    near_ids = (
        bands.filter(is_new)
        .join(old_bands, ["band_idx", "band_key"])
        .select("doc_id")
        .distinct()
        .withColumn("_n", F.lit(1))
    )
    dup_exact = F.col("_e").isNotNull()
    dup_near = F.col("_n").isNotNull()
    return (
        d.filter(is_new)
        .join(old_h, "h", "left")
        .join(near_ids, "doc_id", "left")
        .select(
            "doc_id",
            dup_exact.alias("dup_exact"),
            dup_near.alias("dup_near"),
            (dup_exact | dup_near).alias("dup_any"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- d10 SemDeDup
_SEMDEDUP_K = 8  # seed centroids: vec_id < 8 (same protocol as s03/s04)
_SEMDEDUP_COS = 0.405  # in a measured gap of the rounded within-cluster sims
# (nearest values at sf0.001/sf0.01: 0.3999 below, 0.4064/0.4065 above), so
# Spark's numpy gram and DuckDB's list_cosine_similarity cannot disagree on
# the keep/drop decision after round(.,4)


@query(
    "d10_semdedup",
    f"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
                   WHERE vec_id < {_SEMDEDUP_K}),
        scored AS (
          SELECT e.vec_id, e.embedding, c.cid,
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(c.ce AS DOUBLE[])) AS cos
          FROM embeddings e CROSS JOIN c),
        assign AS (
          SELECT vec_id, embedding, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, cid) AS rn
          FROM scored),
        m AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
        sim AS (
          SELECT a.vec_id,
                 max(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                  CAST(b.embedding AS DOUBLE[])), 4))
                   AS max_sim_prev
          FROM m a JOIN m b ON a.cid = b.cid AND b.vec_id < a.vec_id
          GROUP BY a.vec_id)
        SELECT m.vec_id, m.cid AS cluster_id,
               coalesce(s.max_sim_prev, -1.0) AS max_sim_prev,
               coalesce(s.max_sim_prev >= {_SEMDEDUP_COS}, false) AS is_dropped
        FROM m LEFT JOIN sim s ON s.vec_id = m.vec_id
        ORDER BY m.vec_id""",
)
def d10(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    embedding space, then drop near-duplicates WITHIN each cluster — the
    clustering turns the quadratic all-pairs search into per-cluster work,
    which is the entire reason the method scales.  A vector is dropped when
    some lower-id member of its cluster is within the cosine threshold
    (keep-first survivorship, the same contract as d01/d05).

    Scale shape: assignment reuses s04's map-side in-expression argmax over
    the broadcast centroid literals (zero shuffle); the per-cluster dedup is
    one applyInPandas over cluster groups — a numpy gram matrix per cluster,
    the exact shape SemDeDup runs on GPU — so the only corpus shuffle is the
    single hash exchange on cluster id.  At 100 TB the cluster count scales
    with the corpus (SemDeDup uses ~100k clusters for billions of docs),
    keeping each group worker-sized; the tiny (vec_id, cid, sim, flag)
    result is all that leaves Python."""
    import pandas as pd

    from .similarity import _KM_K, assign_to_centroids  # noqa: F401

    e = load_table(spark, sf, "embeddings")
    cents = (
        e.filter(F.col("vec_id") < _SEMDEDUP_K)
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    members = assign_to_centroids(e, cents).select("vec_id", "embedding", "cid")

    def cluster_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        cid = pdf["cid"].to_numpy()
        m = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        gram = np.round(m @ m.T, 4)
        # max similarity to any EARLIER (lower-id) member: strict lower
        # triangle; row 0 has no predecessor -> sentinel -1.0
        tril = np.tril(gram, k=-1)
        tril[np.triu_indices(len(ids))] = -np.inf
        max_prev = np.where(
            np.arange(len(ids)) == 0, -1.0, np.max(tril, axis=1)
        )
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster_id": cid,
                "max_sim_prev": max_prev,
                "is_dropped": max_prev >= _SEMDEDUP_COS,
            }
        )

    return (
        members.repartition("cid")
        .groupBy("cid")
        .applyInPandas(
            cluster_dedup,
            "vec_id long, cluster_id long, max_sim_prev double, is_dropped boolean",
        )
        # materialize the slim verdict rows so the sort's range sampler
        # cannot re-run the per-cluster gram pass
        .transform(lambda d: materialize(d, table_bytes(sf, "embeddings")))
        .orderBy("vec_id")
    )


# ------------------------------------------------- d11 paragraph-level dedup
_D11_W = 20  # words per paragraph chunk

_D11_TOK_SQL = r"string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+')"


@query(
    "d11_paragraph_dedup",
    rf"""WITH tok AS (SELECT doc_id, {_D11_TOK_SQL} AS toks FROM documents),
        p AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pidx,
                     md5(array_to_string(
                         list_slice(toks, u.i * {_D11_W} + 1, (u.i + 1) * {_D11_W}),
                         ' ')) AS phash
              FROM tok,
                   UNNEST(range(CAST(ceil(len(toks) / {_D11_W}.0) AS BIGINT))) AS u(i)),
        k AS (SELECT doc_id, pidx, phash,
                     CASE WHEN row_number() OVER (PARTITION BY phash
                                                  ORDER BY doc_id, pidx) = 1
                          THEN 1 ELSE 0 END AS keep
              FROM p)
        SELECT doc_id,
               count(*) AS n_paras,
               CAST(sum(keep) AS BIGINT) AS n_kept,
               round(CAST(sum(keep) AS DOUBLE) / count(*), 4) AS kept_ratio,
               md5(string_agg(CASE WHEN keep = 1 THEN phash ELSE '' END,
                              '' ORDER BY pidx)) AS kept_digest
        FROM k GROUP BY doc_id ORDER BY doc_id""",
    doc="CCNet-style paragraph-level exact dedup: every document is chunked "
    f"into non-overlapping {_D11_W}-word paragraphs, each paragraph's hash "
    "is deduplicated GLOBALLY (first occurrence by (doc_id, position) "
    "wins), and the document is rewritten keeping only its first-seen "
    "paragraphs — the removal that strips boilerplate headers/footers "
    "repeated across a crawl while leaving unique prose intact.  Output is "
    "the per-document audit row: paragraph counts, kept ratio, and an md5 "
    "digest of the surviving paragraph sequence standing in for the "
    "cleaned text.\n\n"
    "Scale shape: chunking and hashing are map-side expressions on the "
    "materialized token array (no text shuffle); the global first-"
    "occurrence decision is ONE hash exchange keyed on the 32-hex "
    "paragraph hash carrying only (doc_id, pidx, phash); the per-document "
    "rebuild is a second hash aggregate on doc_id whose sort-within-group "
    "digest happens in-expression.  This is the minimum shuffle any exact "
    "global paragraph dedup can do — each decision needs all instances of "
    "one hash in one place, nothing more.",
)
def d11(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_wide(spark, sf, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    n_chunks = F.ceil(F.size("toks") / _D11_W).cast("int")
    paras = F.when(
        F.size("toks") > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.md5(
                F.array_join(F.slice(F.col("toks"), i * _D11_W + 1, _D11_W), " ").cast(
                    "binary"
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    p = d.select("doc_id", F.posexplode(paras).alias("pidx", "phash")).select(
        "doc_id", F.col("pidx").cast("long").alias("pidx"), "phash"
    )
    w = Window.partitionBy("phash").orderBy("doc_id", "pidx")
    k = p.withColumn("keep", (F.row_number().over(w) == 1).cast("int"))
    ordered = F.array_sort(
        F.collect_list(F.struct("pidx", F.when(F.col("keep") == 1, F.col("phash")).otherwise("").alias("h")))
    )
    return (
        k.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.round(F.sum("keep") / F.count("*"), 4).alias("kept_ratio"),
            F.md5(
                F.array_join(F.transform(ordered, lambda s: s["h"]), "").cast("binary")
            ).alias("kept_digest"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------- d12 keep-best selection
@query(
    "d12_keep_best",
    f"""WITH RECURSIVE {_PAIRS_SQL},
        reach(node, root) AS (
            SELECT a_id, a_id FROM (SELECT DISTINCT a_id FROM edges)
            UNION
            SELECT e.b_id, r.root FROM reach r JOIN edges e ON e.a_id = r.node
        ),
        clusters AS (SELECT node AS doc_id, min(root) AS cluster_id
                     FROM reach GROUP BY node),
        ranked AS (SELECT c.cluster_id, c.doc_id, d.n_chars,
                          row_number() OVER (PARTITION BY c.cluster_id
                                             ORDER BY d.n_chars DESC, c.doc_id)
                            AS rnk
                   FROM clusters c JOIN documents d USING (doc_id))
        SELECT cluster_id, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
               CAST(rnk = 1 AS BOOLEAN) AS keep
        FROM ranked ORDER BY cluster_id, doc_id""",
    doc="Canonical-representative selection — the decision step that turns "
    "near-dup clusters into an actual training corpus: within every "
    "duplicate cluster (d07's connected components over the MinHash-LSH "
    "graph) keep the longest document, ties broken by lowest id (the "
    "common keep-longest policy of production dedup pipelines), and emit "
    "the per-document verdict so the drop set is auditable.\n\n"
    "Scale shape: the cluster labels are (doc_id, cluster_id) pairs — "
    "tiny next to the corpus — so the documents join shuffles only ids "
    "and lengths; the rank compiles to the Partial+Final WindowGroupLimit "
    "pair when filtered to keepers, and here (full verdict output) is one "
    "window over groups whose size is bounded by the LSH bucket cap.",
)
def d12(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    clusters = d07(spark, sf).select("doc_id", "cluster_id")
    d = load_table(spark, sf, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    return (
        clusters.join(d, "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .select(
            "cluster_id",
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            (F.col("rnk") == 1).alias("keep"),
        )
        .orderBy("cluster_id", "doc_id")
    )


# ---------------------------------------------------------------- d13 bucket audit
@query(
    "d13_lsh_bucket_audit",
    f"""WITH sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        hashed AS (SELECT doc_id, md5('a:' || s) AS h0, md5('b:' || s) AS h1 FROM ex),
        sig AS (SELECT doc_id, {_SIG_AGG_SQL} FROM hashed GROUP BY doc_id),
        bands AS ({_BANDS_SQL}),
        sz AS (SELECT band_idx, band_key, count(*) AS n FROM bands
               WHERE band_key IS NOT NULL
               GROUP BY band_idx, band_key)
        SELECT count(*) AS buckets_total,
               CAST(coalesce(sum(CASE WHEN n > {_BUCKET_CAP} THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS buckets_dropped,
               CAST(coalesce(sum(CASE WHEN n > {_BUCKET_CAP} THEN n ELSE 0 END), 0)
                    AS BIGINT) AS postings_dropped,
               CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS buckets_singleton
        FROM sz""",
    doc="Truncation audit for the MinHash-LSH family (d03/d07/d09/d12, all "
    f"sharing the band postings + cap={_BUCKET_CAP} skew guard): how many "
    "band buckets exceed the cap — i.e. candidate pairs silently never "
    "generated — and how many postings they hold, plus singleton buckets "
    "(docs whose band matched nothing; NULL-text docs have no signature "
    "row on either engine — the oracle's WHERE band_key IS NOT NULL is "
    "the SQL twin of _doc_signatures dropping them).  The 'no silent "
    "caps' principle: "
    "run beside the dedup pass and alert when postings_dropped is "
    "material, then raise band bits rather than the cap.  Same signature "
    "scan as d03; the audit itself is one slim (band, key) partial agg.",
)
def d13(spark: SparkSession, sf: str) -> DataFrame:
    from .auditing import cap_audit

    bands = _band_rows(_doc_signatures(spark, sf))
    sz = bands.groupBy("band_idx", "band_key").agg(F.count(F.lit(1)).alias("n"))
    return cap_audit(
        sz, _BUCKET_CAP,
        "buckets_total", "buckets_dropped", "postings_dropped", "buckets_singleton",
    )


# ---------------------------------------------------------------- d14 estimate audit
_EST_SQL = " + ".join(
    f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(len(_SLICES))
)


@query(
    "d14_lsh_estimate_audit",
    f"""WITH {_PAIRS_SQL},
        exd AS (SELECT DISTINCT doc_id, s FROM ex),
        cnts AS (SELECT doc_id, count(*) AS n FROM exd GROUP BY doc_id),
        inter AS (SELECT p.a_id, p.b_id, count(*) AS i
                  FROM pairs p
                  JOIN exd xa ON xa.doc_id = p.a_id
                  JOIN exd xb ON xb.doc_id = p.b_id AND xb.s = xa.s
                  GROUP BY p.a_id, p.b_id),
        est AS (SELECT p.a_id, p.b_id, ({_EST_SQL}) AS est_slots
                FROM pairs p
                JOIN sig sa ON sa.doc_id = p.a_id
                JOIN sig sb ON sb.doc_id = p.b_id)
        SELECT e.a_id AS a_id, e.b_id AS b_id,
               CAST(e.est_slots AS BIGINT) AS est_slots,
               CAST((2000 * coalesce(i.i, 0)
                     + (ca.n + cb.n - coalesce(i.i, 0)))
                    // (2 * (ca.n + cb.n - coalesce(i.i, 0))) AS BIGINT)
                 AS jac_milli
        FROM est e
        LEFT JOIN inter i ON i.a_id = e.a_id AND i.b_id = e.b_id
        JOIN cnts ca ON ca.doc_id = e.a_id
        JOIN cnts cb ON cb.doc_id = e.b_id
        ORDER BY e.a_id, e.b_id""",
    doc="MinHash estimate-vs-truth audit over d03's candidate pairs: for "
    "every LSH candidate, the signature-based Jaccard estimate (equal "
    "minhash slots out of 8) beside the EXACT shingle Jaccard — how a "
    "pipeline validates its dedup sketch parameters (band/row counts, "
    "threshold) on real data before trusting them at corpus scale.  Both "
    "numbers are engine-exact integers: est_slots ∈ 0..8 and jac_milli = "
    "round(1000·|∩|/|∪|) computed by integer half-up division, so no "
    "float rounding can diverge between engines.\n\n"
    "Scale shape: pairs are LSH-bounded (capped buckets), signatures are "
    "slim 70-byte rows, and the exact-Jaccard join touches only the "
    "candidate pairs' shingle hash sets — per-pair cost |A|+|B|, the "
    "honest price of ground truth, paid for the bounded candidate set "
    "instead of the corpus.",
)
def d14(spark: SparkSession, sf: str) -> DataFrame:
    # one signature pass shared three ways (pair generation + both sides of
    # the estimate join), one shingle-hash pass shared three ways (per-doc
    # counts + both sides of the intersection) — without ANY
    # materialization point the bench plan re-ran the MapInPandas corpus
    # pass SIXTEEN times across the branches (r13 session 5)
    sig = materialize(
        _doc_signatures(spark, sf), table_bytes(sf, "documents"), eager=True
    )
    inv = (
        _band_rows(sig)
        .groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _BUCKET_CAP))
    )
    pairs = (
        inv.select(F.explode(_pair_expansion()).alias("p"))
        .select("p.a_id", "p.b_id")
        .distinct()
        # both sides of the estimate join and the intersection probe read
        # pairs concurrently — eager (cache.py r6), mechanism by scale (r13)
        .transform(
            lambda d: materialize(d, table_bytes(sf, "documents"), eager=True)
        )
    )
    # ship ONE 32-byte binary signature per join side instead of eight
    # 8-hex-char strings (guide §2.3): slot equality is equality of the
    # fixed 4-byte slices (8-hex <-> 4-byte is a bijection per slot), so
    # est_slots is value-identical while each sig row entering the
    # estimate join carries a third of the bytes.  r14: wall
    # flat-to-slightly-better interleaved at sf0.1 (2.67/2.89 ->
    # 2.52/2.83 min/med of 6) — at bench scale the pairs side
    # auto-broadcasts so no sig exchange exists to shrink; at 100 TB the
    # pairs frame outgrows the broadcast cap and both sig sides shuffle
    # by doc id, which is where the 4x key cut pays.
    sig_bin = F.concat(*[F.col(f"mh{j}") for j in range(len(_SLICES))])
    sa = sig.select(F.col("doc_id").alias("a_id"), sig_bin.alias("abin"))
    sb = sig.select(F.col("doc_id").alias("b_id"), sig_bin.alias("bbin"))
    est_expr = sum(
        (
            F.substring("abin", 1 + 4 * j, 4) == F.substring("bbin", 1 + 4 * j, 4)
        ).cast("long")
        for j in range(len(_SLICES))
    )
    est = (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", est_expr.alias("est_slots"))
    )
    hashes = materialize(
        _doc_shingle_hashes(spark, sf), table_bytes(sf, "documents"), eager=True
    )
    cnt = hashes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    xa = hashes.select(F.col("doc_id").alias("a_id"), "s")
    xb = hashes.select(F.col("doc_id").alias("b_id"), "s")
    inter = (
        pairs.join(xa, "a_id")
        .join(xb, ["b_id", "s"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ca = cnt.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    i0 = F.coalesce("i", F.lit(0))
    u = F.col("na") + F.col("nb") - i0
    return (
        est.join(inter, ["a_id", "b_id"], "left")
        .join(ca, "a_id")
        .join(cb, "b_id")
        .select(
            "a_id",
            "b_id",
            "est_slots",
            (F.lit(2000) * i0 + u).alias("num"),
            (F.lit(2) * u).alias("den"),
        )
        # true integer division (`div`), matching the oracle's `//` exactly
        .select("a_id", "b_id", "est_slots", F.expr("num div den").alias("jac_milli"))
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------- d15 containment near-dup
# Containment C(A ⊆ B) = |sh(A) ∩ sh(B)| / |sh(A)| — the ASYMMETRIC twin of
# d04's Jaccard.  Jaccard misses near-supersets (a doc quoted inside a much
# larger one scores |A|/|B| ≈ 0 even when every shingle of A is in B);
# containment of the smaller side is the standard signal for quote/boilerplate
# absorption in LLM corpus dedup.  Reported in exact milli units (half-up
# integer division, the d14 idiom) so no float can diverge between engines.
_D15_MILLI = 600  # flag pairs where ≥60% of the smaller doc is contained


@query(
    "d15_containment_neardup",
    f"""WITH sh AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM documents),
        ex0 AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        keep AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= {_DF_CAP}),
        ex AS (SELECT doc_id, ex0.s FROM ex0 JOIN keep ON ex0.s = keep.s),
        cnt AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
        shared AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id)
        SELECT a_id, b_id,
               CASE WHEN ca.n <= cb.n THEN a_id ELSE b_id END AS contained_id,
               CAST((2000 * shared + least(ca.n, cb.n))
                    // (2 * least(ca.n, cb.n)) AS BIGINT) AS cont_milli
        FROM shared
        JOIN cnt ca ON ca.doc_id = a_id
        JOIN cnt cb ON cb.doc_id = b_id
        WHERE (2000 * shared + least(ca.n, cb.n))
              // (2 * least(ca.n, cb.n)) >= {_D15_MILLI}
        ORDER BY a_id, b_id""",
    doc="Asymmetric containment near-dup over the d04 shingle postings: "
    "flags pairs where most of the SMALLER document's shingles appear in "
    "the larger one — the near-superset (quotation / boilerplate "
    "absorption) case symmetric Jaccard structurally under-scores.  "
    "contained_id names the absorbed document (ties break to the lower "
    "id, deterministically).\n\n"
    "Scale shape: identical to d04 — ONE groupBy on the 64-bit shingle "
    "hash fuses the document-frequency cap and the inverted index, pairs "
    "expand locally per capped postings list (≤ C(cap,2) each, no "
    "self-join anywhere), and the postings frame is persisted once and "
    "reused for the per-doc sizes.  The only new work vs d04 is the "
    "least() in the final O(pairs) projection.",
)
def d15(spark: SparkSession, sf: str) -> DataFrame:
    ex0 = _doc_shingle_hashes(spark, sf)
    inv = (
        ex0.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= _DF_CAP)
        # feeds counts AND pairs — concurrent consumers, eager (cache.py
        # r6), materialized like d04's
        .transform(
            lambda d: materialize(d, table_bytes(sf, "documents"), eager=True)
        )
    )
    cnt = (
        inv.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    shared = (
        inv.filter(F.size("ids") >= 2)
        .select(F.explode(_pair_expansion()).alias("p"))
        .groupBy(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = cnt.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    m = F.least("na", "nb")
    return (
        shared.join(ca, "a_id")
        .join(cb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.when(F.col("na") <= F.col("nb"), F.col("a_id"))
            .otherwise(F.col("b_id"))
            .alias("contained_id"),
            (F.lit(2000) * F.col("shared") + m).alias("num"),
            (F.lit(2) * m).alias("den"),
        )
        # true integer division (`div`), matching the oracle's `//` exactly
        .select(
            "a_id", "b_id", "contained_id", F.expr("num div den").alias("cont_milli")
        )
        .filter(F.col("cont_milli") >= _D15_MILLI)
        .orderBy("a_id", "b_id")
    )
