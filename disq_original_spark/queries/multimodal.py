"""Multimodal pipeline queries (m01–m03) over the media view of documents.

All three are fully DuckDB-oracle-checked: m01's ids/kinds/sizes are
deterministic SQL; m02's digest is defined over exact integer byte-moments
and m03 fingerprints each sampled frame, both reproducible in SQL because
the corpus is ASCII (char positions are byte positions).  The Spark-side
plumbing is additionally exercised structurally in
tests/test_multimodal.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import materialize
from ..operators.mediacontainers import (
    _Y4M_FIXED,
    WAV_HEADER_SIZE,
    Y4M_FRAME_BYTES,
)
from ..operators.multimodal import (
    audio_frames,
    bmp_from_text,
    documents_as_media,
    extract_features,
    frame_hashes,
    perceptual_hash,
    sample_frames,
)
from ..tables import load_table, table_bytes
from .dedup import _pair_expansion
from .registry import query


# ---- shared SQL twins of operators/multimodal.py::media_dims and
# operators/imagecodec.py::bmp_size — ONE definition interpolated into
# every oracle that needs the image geometry, so the derivation rule can
# only be edited in lockstep (the same posture as _M04_BAND_SQL below).
def _w_sql(n: str) -> str:
    """width = 16 + n % 64."""
    return f"(16 + ({n}) % 64)"


def _h_sql(n: str) -> str:
    """height = max(16, ceil(n / width)) — the grid always holds n bytes."""
    return f"greatest(16, (({n}) + {_w_sql(n)} - 1) // {_w_sql(n)})"


def _bmp_size_sql(w: str, h: str) -> str:
    """54-byte header + height rows of 3*width bytes padded to 4 bytes."""
    return f"(54 + ((3 * ({w}) + 3) // 4 * 4) * ({h}))"


def _wav_size_sql(n: str) -> str:
    """44-byte canonical PCM header + samples + RIFF pad on odd length
    (SQL twin of mediacontainers.wav_size)."""
    return f"({WAV_HEADER_SIZE} + ({n}) + ({n}) % 2)"


def _y4m_size_sql(n: str) -> str:
    """Variable-length YUV4MPEG2 header (the Xclen digits) + FRAME-prefixed
    fixed planes (SQL twin of mediacontainers.y4m_size)."""
    base = len(_Y4M_FIXED) + 1  # fixed header text + the newline
    per_frame = 6 + Y4M_FRAME_BYTES  # 'FRAME\n' + mono plane
    return (
        f"({base} + length(CAST(({n}) AS VARCHAR))"
        f" + greatest(1, (({n}) + {Y4M_FRAME_BYTES - 1}) // {Y4M_FRAME_BYTES})"
        f" * {per_frame})"
    )



@query(
    "m01_media_stats",
    f"""SELECT doc_id AS media_id,
              CASE WHEN doc_id % 3 = 0 THEN 'image'
                   WHEN doc_id % 3 = 1 THEN 'audio'
                   ELSE 'video' END AS kind,
              CAST(CASE
                WHEN text IS NULL THEN NULL
                -- every payload is a real container; sizes from the
                -- shared codec-size SQL twins above
                WHEN doc_id % 3 = 0 THEN
                  {_bmp_size_sql(_w_sql('length(text)'), _h_sql('length(text)'))}
                WHEN doc_id % 3 = 1 THEN {_wav_size_sql('length(text)')}
                ELSE {_y4m_size_sql('length(text)')} END AS BIGINT) AS n_bytes
       FROM documents ORDER BY media_id""",
    doc="Media catalog stats: binary payload sizes by kind — the metadata "
    "scan a media pipeline runs before any decode.  Every size is a real "
    "container file size (BMP / PCM WAV / Y4M); the oracle recomputes "
    "each codec's exact size arithmetic (headers, row/word padding, "
    "variable-length Y4M header digits, frame planes) from the "
    "derivation rule.",
)
def m01(spark: SparkSession, sf: str) -> DataFrame:
    media = documents_as_media(load_table(spark, sf, "documents"))
    return (
        media.select("media_id", "kind", F.octet_length("data").cast("long").alias("n_bytes"))
        .transform(lambda d: materialize(d, table_bytes(sf, "documents")))
        .orderBy("media_id")
    )


@query(
    "m02_media_features",
    f"""WITH m AS (SELECT doc_id AS media_id,
                         CASE WHEN doc_id % 3 = 0 THEN 'image'
                              WHEN doc_id % 3 = 1 THEN 'audio'
                              ELSE 'video' END AS kind,
                         text, length(text) AS n,
                         CAST({_w_sql('length(text)')} AS INTEGER) AS w,
                         CAST(CASE WHEN doc_id % 3 = 0 THEN
                                {_h_sql('length(text)')}
                              ELSE 16 + (length(text) // 64) % 64 END AS INTEGER) AS h
                  -- NULL payloads are skipped by the feature extractor
                  -- (operators/multimodal.py run()); mirror that here
                  FROM documents WHERE text IS NOT NULL),
        -- image payloads decode to a w*h zero-padded pixel grid (the
        -- text's bytes row-major); audio WAVs decode to their PCM
        -- samples and video Y4Ms to their concatenated trimmed frames
        -- (both exactly the text bytes): the stride SUM only sees text
        -- bytes in every kind (image padding adds 0), and the stride
        -- COUNT runs over the decoded sequence length
        geo AS (SELECT *,
                       CASE WHEN kind = 'image' THEN w * h ELSE n END AS seqlen,
                       CASE WHEN kind = 'image' THEN {_bmp_size_sql('w', 'h')}
                            WHEN kind = 'audio' THEN {_wav_size_sql('n')}
                            ELSE {_y4m_size_sql('n')} END AS n_bytes
                FROM m),
        pos AS (SELECT media_id, text, unnest(generate_series(1, n)) AS p
                FROM geo),
        b AS (SELECT media_id, (p - 1) % 8 AS j, ord(substr(text, p, 1)) AS byte
              FROM pos),
        mom AS (SELECT media_id, j, CAST(sum(byte) AS BIGINT) AS s
                FROM b GROUP BY media_id, j),
        -- full (media_id x stride) grid; a stride with no positions at all
        -- (audio/video shorter than 8 bytes) is padded as count 1
        grid AS (SELECT media_id, seqlen, unnest(generate_series(0, 7)) AS j
                 FROM geo),
        filled AS (SELECT g.media_id, g.j,
                          coalesce(mom.s, 0) AS s,
                          greatest(CASE WHEN g.seqlen > g.j
                                        THEN (g.seqlen - g.j + 7) // 8
                                        ELSE 0 END, 1) AS c
                   FROM grid g LEFT JOIN mom USING (media_id, j)),
        d AS (SELECT media_id,
                     md5(string_agg(s || '/' || c, ',' ORDER BY j)) AS features_digest
              FROM filled GROUP BY media_id)
        SELECT geo.media_id, geo.kind, CAST(geo.n_bytes AS BIGINT) AS n_bytes,
               geo.w AS width, geo.h AS height, d.features_digest
        FROM geo JOIN d USING (media_id) ORDER BY media_id""",
    doc="Arrow-batched feature extraction over binary payloads "
    "(mapInPandas): every kind goes through a REAL container parse — BMP "
    "to a pixel grid, WAV RIFF chunks to PCM samples, Y4M streams to "
    "frame planes (operators/imagecodec.py, mediacontainers.py).  "
    "Emits features_digest = "
    "md5 of the exact integer pixel/byte-moments, reproduced "
    "byte-for-byte by the SQL oracle from the text column and the "
    "corpus-derivation geometry (the corpus is ASCII, so char positions "
    "are byte positions).",
)
def m02(spark: SparkSession, sf: str) -> DataFrame:
    media = documents_as_media(load_table(spark, sf, "documents"))
    return (
        extract_features(media)
        .transform(lambda d: materialize(d, table_bytes(sf, "documents")))
        .orderBy("media_id")
    )


@query(
    "m03_frame_sample",
    """WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n
                  FROM documents WHERE doc_id % 3 = 2 AND text IS NOT NULL),
        f AS (SELECT media_id,
                     CAST(i AS INTEGER) AS frame_idx,
                     substr(text, i * 256 + 1, 256) AS frame
              FROM m, generate_series(0, 3) t(i)
              WHERE i < least(4, greatest(1, n // 256)))
        SELECT media_id, frame_idx,
               CAST(length(frame) AS BIGINT) AS n_bytes,
               md5(frame) AS frame_digest
        FROM f ORDER BY media_id, frame_idx""",
    doc="Video frame sampling: mapInPandas row expansion (1 video → ≤4 "
    "frames) over REAL Y4M streams — the operator validates the stream "
    "header and FRAME markers and recovers the content-trimmed planes.  "
    "The driver-facing query fingerprints each frame (md5) so the oracle "
    "hash-checks it; the library operator keeps raw frame bytes.",
)
def m03(spark: SparkSession, sf: str) -> DataFrame:
    media = documents_as_media(load_table(spark, sf, "documents"))
    return (
        sample_frames(media)
        .select(
            "media_id",
            "frame_idx",
            "n_bytes",
            F.md5("frame_data").alias("frame_digest"),
        )
        .transform(lambda d: materialize(d, table_bytes(sf, "documents")))
        .orderBy("media_id", "frame_idx")
    )


@query(
    "m05_audio_frames",
    """WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n
                  FROM documents
                  WHERE doc_id % 3 = 1 AND text IS NOT NULL AND length(text) > 0),
        f AS (SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
                     i * 256 AS start, text, n
              FROM m, generate_series(0, 7) t(i)
              WHERE i * 256 < n),
        b AS (SELECT media_id, frame_idx,
                     ord(substr(text, CAST(p AS INTEGER), 1)) AS byte
              FROM (SELECT media_id, frame_idx, text,
                           unnest(generate_series(start + 1,
                                                  least(start + 512, n))) AS p
                    FROM f)),
        agg AS (SELECT media_id, frame_idx, count(*) AS n_bytes,
                       sum(byte * byte) AS energy, max(byte) AS peak
                FROM b GROUP BY 1, 2)
       SELECT media_id, frame_idx, CAST(n_bytes AS BIGINT) AS n_bytes,
              CAST(energy AS BIGINT) AS energy, CAST(peak AS INTEGER) AS peak
       FROM agg ORDER BY media_id, frame_idx""",
    doc="Audio frame analysis: overlapping 512-byte frames every 256 bytes "
    "(librosa-style hop windowing, ≤8 frames/clip) with integer-exact "
    "per-frame energy (Σ sample²) and peak over the REAL WAV-decoded PCM "
    "samples, computed in one Arrow-batched numpy pass "
    "(operators/multimodal.py::audio_frames).  The oracle "
    "reproduces every frame statistic in SQL because the corpus is ASCII "
    "(char positions are byte positions, as m02).\n\n"
    "Scale shape: pure map-side row expansion — no shuffle except the "
    "driver-facing ORDER BY; only 40-byte frame statistics cross the "
    "Python boundary, never payloads.",
)
def m05(spark: SparkSession, sf: str) -> DataFrame:
    media = documents_as_media(load_table(spark, sf, "documents"))
    return (
        audio_frames(media)
        .transform(lambda d: materialize(d, table_bytes(sf, "documents")))
        .orderBy("media_id", "frame_idx")
    )


# ------------------------------------------------- m04 perceptual-hash dedup
_M04_VARIANT_BASE = 1_000_000_000
_M04_HAM_MAX = 3  # 4 bands of 16 bits: pigeonhole-exact for Hamming <= 3
_M04_CAP = 64  # drop LSH buckets larger than this (skew guard, as d03)

_M04_BAND_SQL = ", ".join(
    f"CAST(sum(CASE WHEN j // 16 = {b} THEN bit * (1::BIGINT << (j % 16)) ELSE 0 END)"
    f" AS INTEGER) AS b{b}"
    for b in range(4)
)
_M04_HAM_SQL = " + ".join(f"bit_count(xor(ha.b{b}, hb.b{b}))" for b in range(4))
_M04_BANDVAL_SQL = (
    "CASE u.b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END"
)


@query(
    "m04_phash_neardup",
    f"""WITH m AS (
          SELECT media_id, text, length(text) AS n,
                 -- the decoded pixel grid is w*h (zero-padded row-major
                 -- text bytes): stride sums only see text bytes, stride
                 -- counts run over the grid
                 {_w_sql('length(text)')} * {_h_sql('length(text)')} AS npix
          FROM (
            SELECT doc_id AS media_id, text
            FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id + {_M04_VARIANT_BASE},
                   concat(substr(text, 2, 1), substr(text, 1, 1), substr(text, 3))
            FROM documents WHERE doc_id % 15 = 0)
          -- all-zero pixel grids (empty text) carry no signal and are
          -- dropped by perceptual_hash; mirror that here
          WHERE text IS NOT NULL AND length(text) > 0),
        pos AS (SELECT media_id, text,
                       unnest(generate_series(1, n)) AS p
                FROM m),
        mom AS (SELECT media_id, (p - 1) % 64 AS j,
                       sum(ord(substr(text, p, 1))) AS s
                FROM pos GROUP BY 1, 2),
        tot AS (SELECT media_id, sum(s) AS ts FROM mom GROUP BY 1),
        grid AS (SELECT media_id, npix, unnest(generate_series(0, 63)) AS j
                 FROM m),
        bitv AS (SELECT g.media_id, g.j,
                        CASE WHEN coalesce(mm.s, 0) * g.npix >
                                  t.ts * ((g.npix - g.j + 63) // 64)
                             THEN 1 ELSE 0 END AS bit
                 FROM grid g
                 LEFT JOIN mom mm ON mm.media_id = g.media_id AND mm.j = g.j
                 JOIN tot t ON t.media_id = g.media_id),
        hashes AS (SELECT media_id, {_M04_BAND_SQL} FROM bitv GROUP BY media_id),
        bands AS (SELECT media_id, b0, b1, b2, b3, u.b AS band_idx,
                         {_M04_BANDVAL_SQL} AS band_val
                  FROM hashes, UNNEST([0, 1, 2, 3]) AS u(b)),
        keep AS (SELECT band_idx, band_val FROM bands
                 GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {_M04_CAP}),
        cand AS (SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id
                 FROM bands a
                 JOIN keep k ON a.band_idx = k.band_idx AND a.band_val = k.band_val
                 JOIN bands b ON a.band_idx = b.band_idx
                             AND a.band_val = b.band_val
                             AND a.media_id < b.media_id)
        SELECT a_id, b_id, hamming FROM (
          SELECT c.a_id, c.b_id, CAST({_M04_HAM_SQL} AS BIGINT) AS hamming
          FROM cand c
          JOIN hashes ha ON ha.media_id = c.a_id
          JOIN hashes hb ON hb.media_id = c.b_id) t
        WHERE hamming <= {_M04_HAM_MAX}
        ORDER BY a_id, b_id""",
    doc="Perceptual-hash near-duplicate image detection (LAION-style media "
    "dedup): every image payload is a REAL BMP file, decoded by the "
    "pure-numpy codec back to its pixel grid, and gets a 64-bit "
    "integer-exact aHash over the pixels (operators/multimodal.py::"
    "perceptual_hash, Arrow-batched), "
    "candidates pair through a 4×16-bit band-equality LSH join — "
    f"pigeonhole-complete for Hamming ≤ {_M04_HAM_MAX} — and exact Hamming "
    "distances confirm.  The corpus is widened with deterministic "
    "'re-encoded' variants (adjacent-byte swap, which provably moves ≤ 2 "
    "hash bits because stride sums shift but the global mean cannot) so "
    "true near-dup pairs exist at every scale.\n\n"
    "Scale shape: hashing is one Arrow pass emitting 4 ints/image; the "
    "band explode carries 4 slim rows per image into ONE hash shuffle; "
    f"buckets beyond {_M04_CAP} are dropped (mirrored in the oracle's "
    "HAVING) so worst-case pair expansion stays constant per bucket; the "
    "exact-distance confirm is two slim equi-joins on media_id.  No "
    "all-pairs comparison exists at any stage.",
)
def m04(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    imgs = d.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"), F.col("text")
    )
    swapped = F.concat(
        F.substring("text", 2, 1),
        F.substring("text", 1, 1),
        F.col("text").substr(F.lit(3), F.length("text")),
    )
    variants = d.filter(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + _M04_VARIANT_BASE).alias("media_id"),
        swapped.alias("text"),
    )
    corpus = imgs.unionByName(variants).select(
        "media_id", bmp_from_text("text").alias("data")
    )
    # bands, the a-side and the b-side of the confirm join all consume the
    # hashes — without a materialization point the Arrow decode pass runs
    # three times (one mapInPandas subtree per plan branch).  5 ints/row,
    # so the materialized frame is ~1000× smaller than the payloads it
    # replaces.  Above the gate materialize takes the lazy persist (the
    # unchanged production posture); below it a lazy localCheckpoint —
    # the LAZY persist's three concurrent consumers all raced the cold
    # cache (three full decode scans per drain, visible as three
    # concurrent source stages in the stage table), while the checkpoint
    # materializes the decode exactly once at build.
    # Interleaved A/B (min/med, sf0.1): lazy persist 1.156/1.328 vs
    # checkpoint 1.069/1.180 s, faster in all 6 rounds; at 8 cores
    # 1.028/1.345 vs 0.930/1.180 (4 of 5 rounds).
    hashes = materialize(perceptual_hash(corpus), table_bytes(sf, "documents"))
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), F.col(f"b{b}").alias("band_val"))
            for b in range(4)
        ]
    )
    bands = hashes.select("media_id", F.explode(band_structs).alias("bv")).select(
        "media_id", "bv.band_idx", "bv.band_val"
    )
    buckets = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list("media_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _M04_CAP))
    )
    cand = (
        buckets.select(F.explode(_pair_expansion()).alias("p"))
        .select("p.a_id", "p.b_id")
        .distinct()
    )
    ha = hashes.select(
        F.col("media_id").alias("a_id"), *[F.col(f"b{b}").alias(f"a{b}") for b in range(4)]
    )
    hb = hashes.select(
        F.col("media_id").alias("b_id"), *[F.col(f"b{b}").alias(f"hb{b}") for b in range(4)]
    )
    ham = sum(
        (
            F.bit_count(F.col(f"a{b}").bitwiseXOR(F.col(f"hb{b}")))
            for b in range(4)
        ),
        F.lit(0),
    ).cast("long")
    return (
        cand.join(ha, "a_id")
        .join(hb, "b_id")
        .select("a_id", "b_id", ham.alias("hamming"))
        .filter(F.col("hamming") <= _M04_HAM_MAX)
        .orderBy("a_id", "b_id")
    )


# ------------------------------------------------- m06 scene-change detection
_M06_CUT = 12  # hamming threshold: adjacent frames farther than this = cut


@query(
    "m06_scene_cuts",
    f"""WITH f AS (SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
                          substr(text, i * 256 + 1, 256) AS frame
                   FROM (SELECT doc_id AS media_id, text, length(text) AS n
                         FROM documents WHERE doc_id % 3 = 2),
                        generate_series(0, 3) t(i)
                   WHERE i < least(4, greatest(1, n // 256))
                     AND length(substr(text, i * 256 + 1, 256)) > 0),
        pos AS (SELECT media_id, frame_idx, frame,
                       unnest(generate_series(1, length(frame))) AS p
                FROM f),
        mom AS (SELECT media_id, frame_idx, (p - 1) % 64 AS j,
                       sum(ord(substr(frame, CAST(p AS INTEGER), 1))) AS s,
                       count(*) AS c
                FROM pos GROUP BY 1, 2, 3),
        tot AS (SELECT media_id, frame_idx, sum(s) AS ts, sum(c) AS tc
                FROM mom GROUP BY 1, 2),
        grid AS (SELECT media_id, frame_idx, unnest(generate_series(0, 63)) AS j
                 FROM f),
        bitv AS (SELECT g.media_id, g.frame_idx, g.j,
                        CASE WHEN coalesce(m.s, 0) * t.tc > t.ts * coalesce(m.c, 0)
                             THEN 1 ELSE 0 END AS bit
                 FROM grid g
                 LEFT JOIN mom m ON m.media_id = g.media_id
                                AND m.frame_idx = g.frame_idx AND m.j = g.j
                 JOIN tot t ON t.media_id = g.media_id
                           AND t.frame_idx = g.frame_idx),
        h AS (SELECT media_id, frame_idx, {_M04_BAND_SQL}
              FROM bitv GROUP BY media_id, frame_idx),
        d AS (SELECT media_id, frame_idx,
                     lag(b0) OVER w AS p0, lag(b1) OVER w AS p1,
                     lag(b2) OVER w AS p2, lag(b3) OVER w AS p3,
                     b0, b1, b2, b3
              FROM h WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx))
       SELECT media_id, frame_idx,
              CAST(bit_count(xor(b0, p0)) + bit_count(xor(b1, p1))
                   + bit_count(xor(b2, p2)) + bit_count(xor(b3, p3)) AS BIGINT)
                AS hamming,
              (bit_count(xor(b0, p0)) + bit_count(xor(b1, p1))
               + bit_count(xor(b2, p2)) + bit_count(xor(b3, p3))) > {_M06_CUT}
                AS is_cut
       FROM d WHERE p0 IS NOT NULL ORDER BY media_id, frame_idx""",
    doc="Video scene-change detection: every sampled frame gets a 64-bit "
    "integer-exact aHash (operators/multimodal.py::frame_hashes, one Arrow "
    "pass over the frame expansion), adjacent frames compare by Hamming "
    "distance via a lag window per video, and transitions above the "
    f"threshold ({_M06_CUT} bits) flag as cuts — the shot-boundary pass a "
    "video curation pipeline runs before sampling training clips.\n\n"
    "Scale shape: frame sampling and hashing are map-side Arrow passes "
    "emitting 6 ints/frame; the only shuffle is the per-video lag window "
    "(frames-per-video rows per key), then the driver-facing sort.",
)
def m06(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    media = documents_as_media(load_table(spark, sf, "documents"))
    h = frame_hashes(sample_frames(media))
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    lagged = h.select(
        "media_id",
        "frame_idx",
        *[F.col(f"b{b}") for b in range(4)],
        *[F.lag(f"b{b}").over(w).alias(f"p{b}") for b in range(4)],
    )
    ham = sum(
        (F.bit_count(F.col(f"b{b}").bitwiseXOR(F.col(f"p{b}"))) for b in range(4)),
        F.lit(0),
    )
    return (
        lagged.filter(F.col("p0").isNotNull())
        .select(
            "media_id",
            "frame_idx",
            ham.cast("long").alias("hamming"),
            (ham > _M06_CUT).alias("is_cut"),
        )
        .orderBy("media_id", "frame_idx")
    )
