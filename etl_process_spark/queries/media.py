"""Multimodal-column queries (binary assets + mapInPandas decode path).

Round 5: the image/audio/video corpora are REAL containers — actual
PNGs (stdlib zlib codec, all five scanline filters exercised), actual
mono 16-bit PCM WAVs (stdlib ``wave``), and a packed container of
length-prefixed PNG frames. Spark derives every feature by DECODING THE
BYTES; the DuckDB oracle recomputes the same features from the exact
integer pixel/sample synthesis rule (multimodal/assets.py) — so the
codec path itself is differentially verified end-to-end, not just the
plumbing around it.

Cross-engine exactness discipline: dims/luma/amplitude features are
exact integers (ppm / e6, BIGINT); the pHash oracle's only floating
stage is the DCT basis product, whose SIGN comparisons sit O(1) away
from zero against ~1e-13 cross-engine noise (margins asserted by
tools/phash_margin_check.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_process_spark.multimodal.assets import (
    synthesize_audio_assets,
    synthesize_image_assets,
    synthesize_video_assets,
)
from etl_process_spark.multimodal.ops import (
    audio_fingerprint_words,
    decode_image_stats,
    packed_frame_luma,
    sample_packed_frames,
)
from etl_process_spark.queries.registry import query, tbl  # noqa: F401
from etl_process_spark.session import checkpoint

# ---- shared SQL fragments for the synthetic pixel rule -------------------
# gid = doc_id - doc_id % 2 (pair groups); hx = md5(gid); h/w = 32 + byte % 65;
# BASE pixels g[r][c] = (rs*(c+7) + 3r) mod 128 with rs[r] = md5('gid:r')[0:4].
# The even doc carries the base image; the odd doc carries the exact affine
# twin 2·g + 1 — per-doc aggregates derive from per-gid integer sums via
# s_odd = 2·s + n (Σ(2g+1) over n pixels), never re-unnesting per doc.

_IMG_DIMS = """
  grp AS (SELECT DISTINCT doc_id - doc_id % 2 AS gid FROM documents),
  dims AS (
    SELECT gid,
           32 + CAST('0x' || substr(md5(CAST(gid AS VARCHAR)), 1, 2) AS BIGINT) % 65 AS h,
           32 + CAST('0x' || substr(md5(CAST(gid AS VARCHAR)), 3, 2) AS BIGINT) % 65 AS w
    FROM grp
  ),
  rows_ AS (
    SELECT gid, h, w, r,
           CAST('0x' || substr(md5(CAST(gid AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 4) AS BIGINT) AS rs
    FROM dims, unnest(range(0, h)) AS tr(r)
  ),
  px AS (
    SELECT gid, h, w, r, c, (rs * (c + 7) + 3 * r) % 128 AS gv
    FROM rows_, unnest(range(0, w)) AS tc(c)
  )
"""


@query(
    "image_decode_stats",
    f"""
    WITH {_IMG_DIMS},
    agg AS (
      SELECT gid, any_value(h) AS h, any_value(w) AS w,
             sum(gv) AS s, count(*) AS n
      FROM px GROUP BY gid
    )
    SELECT d.doc_id AS asset_id,
           CAST(a.w AS INT) AS width,
           CAST(a.h AS INT) AS height,
           CAST(1 AS INT) AS channels,
           CAST((1000000 * (CASE WHEN d.doc_id % 2 = 1
                                 THEN 2 * a.s + a.n ELSE a.s END))
                // (255 * a.n) AS BIGINT) AS luma_ppm
    FROM documents d
    JOIN agg a ON a.gid = d.doc_id - d.doc_id % 2
    """,
)
def image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode via Arrow-batched mapInPandas: actual PNG bytes
    in (stdlib zlib codec: inflate + un-filter all five filter types),
    intrinsic stats out — width/height from IHDR, mean luma as an exact
    integer ppm over the decoded pixels. The oracle recomputes the same
    integers from the pixel synthesis rule, so a single mis-decoded
    byte anywhere in the codec would hash-mismatch."""
    return decode_image_stats(synthesize_image_assets(spark, sf_dir))


@query(
    "image_resize_luma",
    f"""
    WITH {_IMG_DIMS},
    bins AS (
      SELECT gid, (r * 32) // h AS p, (c * 32) // w AS q,
             sum(gv) AS bs, count(*) AS bn
      FROM px GROUP BY gid, p, q
    ),
    -- per-doc rounded pixel from per-gid integer bin sums: the odd twin's
    -- bin sum is exactly 2·bs + bn (Σ(2g+1)); floor(x/cnt + 0.5) on exact
    -- integer operands is IEEE-identical in both engines
    pooled AS (
      SELECT d.doc_id, b.p, b.q,
             CAST(floor(CAST(CASE WHEN d.doc_id % 2 = 1
                                  THEN 2 * b.bs + b.bn ELSE b.bs END AS DOUBLE)
                        / b.bn + 0.5) AS BIGINT) AS rp
      FROM documents d
      JOIN bins b ON b.gid = d.doc_id - d.doc_id % 2
    ),
    agg AS (SELECT doc_id, sum(rp) AS s FROM pooled GROUP BY doc_id)
    SELECT doc_id AS asset_id,
           CAST(32 AS INT) AS width,
           CAST(32 AS INT) AS height,
           CAST((1000000 * s) // (255 * 1024) AS BIGINT) AS luma_ppm
    FROM agg
    """,
)
def image_resize_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize round-trip: decode PNG → area (mean-pool) resample to
    32×32 with half-up rounding → re-encode PNG → decode THAT and take
    exact-integer luma. Verifies decoder, resampler, rounding, and
    encoder in one chain — the oracle recomputes each pooled bin as
    floor(sum/count + 0.5) over exact integer sums (IEEE-identical in
    both engines because every operand is exact)."""
    from etl_process_spark.multimodal.ops import resize_images

    resized = resize_images(synthesize_image_assets(spark, sf_dir), 32, 32)
    return decode_image_stats(resized).select(
        "asset_id", "width", "height", "luma_ppm"
    )


# ---- pHash: the DCT-sign oracle -------------------------------------------
# The 8×32 orthonormal DCT-II basis, pooled bin means (bit-identical across
# engines: exact integer sums / exact counts, one IEEE division), two basis
# contractions, AC-median threshold — rebuilding the 64 sign bits in SQL.
#
# ``blk`` and ``bands`` MUST be MATERIALIZED: DuckDB inlines plain CTEs,
# so a chain referenced twice (blk → med AND blk → bits; bands → cand
# AND bands → ph) would be EVALUATED twice — and with multi-threaded
# float aggregation the two evaluations differ by ~1e-13. Every real AC
# bit has ≥1e-4 margin (tools/phash_margin_check.py), but the median
# ELEMENT's own bit has margin exactly 0 (`coef > med` where coef IS
# med), so cross-evaluation noise turns that one bit into a coin flip —
# observed at sf0.1 as ±1-bit hamming noise on half the groups.
# Materialization pins one evaluation; within it, the median element
# compares strictly-not-greater exactly as numpy's does.

_PHASH_BANDS = f"""
  {_IMG_DIMS},
  pooled AS (
    SELECT gid, (r * 32) // h AS p, (c * 32) // w AS q,
           CAST(sum(gv) AS DOUBLE) / count(*) AS vbar
    FROM px GROUP BY gid, p, q
  ),
  basis AS (
    SELECT k, i,
           (CASE WHEN k = 0 THEN sqrt(1.0 / 32.0) ELSE sqrt(2.0 / 32.0) END)
             * cos(pi() * (2 * i + 1) * k / 64.0) AS m
    FROM unnest(range(0, 8)) AS a(k), unnest(range(0, 32)) AS b(i)
  ),
  t1 AS (
    SELECT pooled.gid, pooled.p, basis.k AS v, sum(pooled.vbar * basis.m) AS tv
    FROM pooled JOIN basis ON basis.i = pooled.q
    GROUP BY pooled.gid, pooled.p, basis.k
  ),
  blk AS MATERIALIZED (
    SELECT t1.gid, basis.k AS u, t1.v, sum(t1.tv * basis.m) AS coef
    FROM t1 JOIN basis ON basis.i = t1.p
    GROUP BY t1.gid, basis.k, t1.v
  ),
  med AS (
    SELECT gid, median(coef) AS med FROM blk
    WHERE NOT (u = 0 AND v = 0) GROUP BY gid
  ),
  bits AS (
    SELECT b.gid, b.u * 8 + b.v AS j,
           CASE WHEN (b.u = 0 AND b.v = 0) THEN 0
                WHEN b.coef > m.med THEN 1 ELSE 0 END AS bit
    FROM blk b JOIN med m USING (gid)
  ),
  bands AS MATERIALIZED (
    SELECT gid, j // 16 AS band,
           sum(bit * (1 << (15 - (j % 16)))) AS code
    FROM bits GROUP BY gid, j // 16
  )
"""


@query(
    "image_phash_dup_pairs",
    f"""
    WITH {_PHASH_BANDS},
    ph AS (
      SELECT gid,
             max(CASE WHEN band = 0 THEN code END) * 65536
               + max(CASE WHEN band = 1 THEN code END) AS h1,
             max(CASE WHEN band = 2 THEN code END) * 65536
               + max(CASE WHEN band = 3 THEN code END) AS h2
      FROM bands GROUP BY gid
    ),
    docs2 AS (SELECT doc_id, doc_id - doc_id % 2 AS gid FROM documents),
    ab AS (
      SELECT d2.doc_id AS asset_id, b.band, b.code
      FROM docs2 d2 JOIN bands b USING (gid)
    ),
    cand AS (
      SELECT DISTINCT a.asset_id AS asset_a, b2.asset_id AS asset_b
      FROM ab a JOIN ab b2
        ON a.band = b2.band AND a.code = b2.code
       AND a.asset_id < b2.asset_id
    ),
    p2 AS (SELECT d2.doc_id AS asset_id, ph.h1, ph.h2
           FROM docs2 d2 JOIN ph USING (gid))
    SELECT c.asset_a, c.asset_b,
           CAST(bit_count(xor(pa.h1, pb.h1))
                + bit_count(xor(pa.h2, pb.h2)) AS INT) AS hamming,
           bit_count(xor(pa.h1, pb.h1)) + bit_count(xor(pa.h2, pb.h2)) <= 6
             AS is_dup
    FROM cand c
    JOIN p2 pa ON c.asset_a = pa.asset_id
    JOIN p2 pb ON c.asset_b = pb.asset_id
    """,
)
def image_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection, REAL end-to-end: decode actual PNG
    bytes → 64-bit perceptual hash (mean-pool 32×32 → DCT-II → AC-median
    sign bits) → 4×16-bit band buckets for candidate generation → exact
    hamming verify on candidates only.

    The pigeonhole guarantee: any pair within hamming ≤ 3 of the full
    hash shares at least one untouched band, so banding loses nothing
    at that radius; the ≤ 6 verify fence is then exact bit math
    (bit_count of xor on two 32-bit halves — pure codegen). Candidates
    come from an equi join on (band, code): the asset corpus is never
    all-paired — the same LSH shape as the text and embedding dedup
    paths. The pair-grouped corpus guarantees ground-truth PERCEPTUAL
    duplicates: the odd twin is the even base under the exact affine
    luma map 2·g + 1 — byte-different images whose pHashes coincide
    (hamming 0) because AC coefficients scale by a > 0 and DC is
    pinned; the detector must recover the pair from the MATH, not from
    byte equality. The oracle REBUILDS the DCT sign bits in SQL from
    the base pixel rule (one hash per group — exactly what affine
    invariance licenses; twin-vs-base sign margins are audited by
    tools/phash_margin_check.py), so the whole chain — zlib inflate,
    un-filtering, pooling, DCT, median threshold, banding — is
    hash-verified against an independent engine.
    """
    from pyspark.sql import functions as F

    from etl_process_spark.multimodal.ops import phash_images

    # decode-once discipline: the digest table feeds three plan branches
    # (h1/h2 halves + the band self-join's two sides) — without
    # materialization Spark re-synthesizes and re-DECODES the corpus per
    # branch. A lazy checkpoint pins the tiny digest table (16
    # chars/asset) after one decode pass; blocks are freed when the
    # DataFrame is GC'd.
    ph = checkpoint(
        phash_images(synthesize_image_assets(spark, sf_dir)), eager=False
    )
    p = ph.select(
        "asset_id",
        F.conv(F.substring("phash", 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("phash", 9, 8), 16, 10).cast("long").alias("h2"),
        "phash",
    )
    bands = ph.select(
        "asset_id",
        F.posexplode(
            F.array(*[F.substring("phash", 1 + 4 * i, 4) for i in range(4)])
        ).alias("band", "code"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("asset_a"),
            F.col("b.asset_id").alias("asset_b"),
        )
        .distinct()
    )
    pa = p.select(
        F.col("asset_id").alias("asset_a"),
        F.col("h1").alias("h1a"), F.col("h2").alias("h2a"),
    )
    pb = p.select(
        F.col("asset_id").alias("asset_b"),
        F.col("h1").alias("h1b"), F.col("h2").alias("h2b"),
    )
    hamming = F.expr("bit_count(h1a ^ h1b) + bit_count(h2a ^ h2b)")
    return (
        cand.join(pa, "asset_a")
        .join(pb, "asset_b")
        .select(
            "asset_a", "asset_b",
            hamming.cast("int").alias("hamming"),
            (hamming <= 6).alias("is_dup"),
        )
    )


@query(
    "video_frame_sample",
    """
    WITH v AS (SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents)
    SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_idx, TRUE AS is_png
    FROM v, unnest(range(0, nf, 2)) AS t(f)
    """,
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the packed-PNG container: one asset row fans
    out to every 2nd frame inside the Arrow batch — the row-explosion
    shape of video pipelines, with bounded memory; skipped frames are
    seeked over by their length prefix, never decoded or copied.
    ``is_png`` checks each SAMPLED chunk starts with the PNG signature
    (container-walk integrity: a mis-seek would land mid-frame and
    fail it). The REAL-decode variant is ``video_frame_luma``."""
    from pyspark.sql import functions as F

    from etl_process_spark.multimodal.pngcodec import PNG_SIGNATURE

    frames = sample_packed_frames(
        synthesize_video_assets(spark, sf_dir), every_n=2
    )
    return frames.select(
        "asset_id",
        "frame_idx",
        (
            F.substring(F.col("frame_bytes"), 1, 8)
            == F.lit(bytes(PNG_SIGNATURE))
        ).alias("is_png"),
    )


@query(
    "video_frame_luma",
    """
    WITH v AS (SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents),
    fr AS (SELECT doc_id, f FROM v, unnest(range(0, nf, 2)) AS t(f)),
    rows_ AS (
      SELECT doc_id, f, r,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                  || CAST(f AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 4)
                  AS BIGINT) AS fs
      FROM fr, unnest(range(0, 24)) AS tr(r)
    ),
    agg AS (
      SELECT doc_id, f, sum((fs * (c + 5) + 7 * r) % 256) AS s
      FROM rows_, unnest(range(0, 24)) AS tc(c)
      GROUP BY doc_id, f
    )
    SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_idx,
           CAST((1000000 * s) // (255 * 576) AS BIGINT) AS luma_ppm
    FROM agg
    """,
)
def video_frame_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video path: walk the packed-PNG container by length prefix
    (skipped frames are seeked over, never decoded), decode every 2nd
    frame with the stdlib PNG codec, emit exact-integer mean luma per
    sampled frame — decode-sampled-frames, the core access pattern of a
    video feature pipeline, fused into one Arrow stage."""
    return packed_frame_luma(synthesize_video_assets(spark, sf_dir), every_n=2)


@query(
    "image_rgb_channel_stats",
    """
    WITH d0 AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':rgb') AS hx
      FROM documents
    ),
    dims AS (
      SELECT doc_id,
             16 + CAST('0x' || substr(hx, 1, 2) AS BIGINT) % 33 AS h,
             16 + CAST('0x' || substr(hx, 3, 2) AS BIGINT) % 33 AS w
      FROM d0
    ),
    rows_ AS (
      SELECT doc_id, h, w, r,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':rgb:'
                  || CAST(r AS VARCHAR)), 1, 4) AS BIGINT) AS rs
      FROM dims, unnest(range(0, h)) AS tr(r)
    ),
    px AS (
      SELECT doc_id, h, w,
             (rs * (c + 7) + 3 * r) % 256 AS red,
             (rs * (c + 11) + 5 * r) % 256 AS grn,
             (rs * (c + 13) + r) % 256 AS blu
      FROM rows_, unnest(range(0, w)) AS tc(c)
    ),
    agg AS (
      SELECT doc_id, any_value(h) AS h, any_value(w) AS w, count(*) AS n,
             sum(red) AS sr, sum(grn) AS sg, sum(blu) AS sb,
             sum((299 * red + 587 * grn + 114 * blu) // 1000) AS sl
      FROM px GROUP BY doc_id
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST((1000000 * sr) // (255 * n) AS BIGINT) AS mean_r_ppm,
           CAST((1000000 * sg) // (255 * n) AS BIGINT) AS mean_g_ppm,
           CAST((1000000 * sb) // (255 * n) AS BIGINT) AS mean_b_ppm,
           CAST((1000000 * sl) // (255 * n) AS BIGINT) AS luma_ppm
    FROM agg
    """,
)
def image_rgb_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 3-channel decode at corpus scale: actual RGB PNGs (color
    type 2 — interleaved samples make the un-filter predictors operate
    per channel with a 3-byte left offset, a genuinely different code
    path than grayscale) → exact-integer per-channel means + integer
    ITU-R 601 luma. The oracle recomputes every channel value and the
    per-pixel integer luma in SQL."""
    from etl_process_spark.multimodal.assets import synthesize_rgb_image_assets
    from etl_process_spark.multimodal.ops import rgb_channel_stats

    return rgb_channel_stats(synthesize_rgb_image_assets(spark, sf_dir))


# ---- Haitsma–Kalker fingerprint oracle ------------------------------------
# frame=128, hop=128 (non-overlapping frames keep the SQL DFT tractable),
# 33 bands over bins [1, 64) with the EXACT edges the codec computes
# (codecs.band_edges — embedded below as literals), 32 sign bits per word.

_FP_FRAME, _FP_HOP, _FP_NBANDS = 128, 128, 33


def _fp_edges_sql() -> str:
    from etl_process_spark.multimodal.codecs import band_edges

    e = band_edges(_FP_FRAME, _FP_NBANDS).tolist()
    rows = ", ".join(
        f"({b}, {e[b]}, {e[b + 1]})" for b in range(len(e) - 1)
    )
    return f"be(b, klo, khi) AS (VALUES {rows})"


@query(
    "wav_fingerprint_words",
    f"""
    WITH d0 AS (
      SELECT doc_id, text, length(text) AS n FROM documents
      WHERE length(text) >= {2 * _FP_FRAME}
    ),
    fr AS (
      SELECT doc_id, t
      FROM d0, unnest(range(0, 1 + (n - {_FP_FRAME}) // {_FP_HOP})) AS tt(t)
    ),
    sv AS (
      SELECT doc_id, i, ascii(substr(text, i + 1, 1)) - 128 AS v
      FROM d0, unnest(range(0, n)) AS ti(i)
    ),
    dft AS (
      SELECT fr.doc_id, fr.t, kk.k,
             sum(sv.v * cos(2 * pi() * kk.k * (sv.i - fr.t * {_FP_HOP}) / {_FP_FRAME}.0)) AS re,
             sum(sv.v * sin(2 * pi() * kk.k * (sv.i - fr.t * {_FP_HOP}) / {_FP_FRAME}.0)) AS im
      FROM fr
      JOIN sv ON sv.doc_id = fr.doc_id
             AND sv.i >= fr.t * {_FP_HOP} AND sv.i < fr.t * {_FP_HOP} + {_FP_FRAME}
      CROSS JOIN unnest(range(1, {_FP_FRAME // 2})) AS kk(k)
      GROUP BY fr.doc_id, fr.t, kk.k
    ),
    {_fp_edges_sql()},
    eb AS (
      SELECT dft.doc_id, dft.t, be.b, sum(re * re + im * im) AS e
      FROM dft JOIN be ON dft.k >= be.klo AND dft.k < be.khi
      GROUP BY dft.doc_id, dft.t, be.b
    ),
    dv AS (
      SELECT doc_id, t, b,
             e - lead(e) OVER (PARTITION BY doc_id, t ORDER BY b) AS d
      FROM eb
    ),
    ddv AS (
      SELECT doc_id, t, b,
             d - lag(d) OVER (PARTITION BY doc_id, b ORDER BY t) AS dd
      FROM dv WHERE d IS NOT NULL
    ),
    w AS (
      SELECT doc_id, t,
             sum(CASE WHEN dd > 0 THEN CAST(1 AS BIGINT) ELSE 0 END
                 * (CAST(1 AS BIGINT) << (31 - b))) AS word
      FROM ddv WHERE dd IS NOT NULL AND b < 32
      GROUP BY doc_id, t
    )
    SELECT doc_id AS asset_id, CAST(t - 1 AS INT) AS word_idx,
           CAST(word AS BIGINT) AS word
    FROM w
    """,
)
def wav_fingerprint_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio fingerprint end-to-end: decode actual WAV bytes →
    framed DFT band energies → Haitsma–Kalker difference-of-differences
    sign words (one 32-bit word per frame transition). The DuckDB oracle
    REBUILDS the DFT, the log band energies (exact same integer edges as
    the codec via ``band_edges``), and every sign bit in SQL — so the
    whole chain from RIFF container to fingerprint word is
    cross-engine-verified, the audio twin of the pHash DCT oracle. Sign
    margins vs engine noise are audited corpus-wide by
    tools/fingerprint_margin_check.py."""
    return audio_fingerprint_words(
        synthesize_audio_assets(spark, sf_dir),
        frame=_FP_FRAME, hop=_FP_HOP, n_bands=_FP_NBANDS,
    )


# Shared oracle fragment: per-GROUP Haitsma–Kalker words rebuilt in SQL
# from the even doc's sample stream (one fingerprint per group — exactly
# what amplitude invariance licenses; the odd twin's words derive from
# these by reindexing). Parameterized on the hop so the offset matcher
# can run with overlapping frames (hop < frame).
def _fp_group_words_sql(hop: int) -> str:
    return f"""
    d0 AS (
      SELECT doc_id AS gid, text, length(text) AS n FROM documents
      WHERE doc_id % 2 = 0 AND length(text) >= {2 * _FP_FRAME}
    ),
    fr AS (
      SELECT gid, t
      FROM d0, unnest(range(0, 1 + (n - {_FP_FRAME}) // {hop})) AS tt(t)
    ),
    sv AS (
      SELECT gid, i, ascii(substr(text, i + 1, 1)) - 128 AS v
      FROM d0, unnest(range(0, n)) AS ti(i)
    ),
    dft AS (
      SELECT fr.gid, fr.t, kk.k,
             sum(sv.v * cos(2 * pi() * kk.k * (sv.i - fr.t * {hop}) / {_FP_FRAME}.0)) AS re,
             sum(sv.v * sin(2 * pi() * kk.k * (sv.i - fr.t * {hop}) / {_FP_FRAME}.0)) AS im
      FROM fr
      JOIN sv ON sv.gid = fr.gid
             AND sv.i >= fr.t * {hop} AND sv.i < fr.t * {hop} + {_FP_FRAME}
      CROSS JOIN unnest(range(1, {_FP_FRAME // 2})) AS kk(k)
      GROUP BY fr.gid, fr.t, kk.k
    ),
    {_fp_edges_sql()},
    eb AS (
      SELECT dft.gid, dft.t, be.b, sum(re * re + im * im) AS e
      FROM dft JOIN be ON dft.k >= be.klo AND dft.k < be.khi
      GROUP BY dft.gid, dft.t, be.b
    ),
    dv AS (
      SELECT gid, t, b,
             e - lead(e) OVER (PARTITION BY gid, t ORDER BY b) AS d
      FROM eb
    ),
    ddv AS (
      SELECT gid, t, b,
             d - lag(d) OVER (PARTITION BY gid, b ORDER BY t) AS dd
      FROM dv WHERE d IS NOT NULL
    ),
    -- MATERIALIZED: consumers reference the word stream from multiple
    -- join sides; one evaluation of the DFT chain is both deterministic
    -- (one float evaluation feeds every reference — the sign margins are
    -- audited healthy, but zero-cost insurance) and ~2x cheaper
    w AS MATERIALIZED (
      SELECT gid, t - 1 AS word_idx,
             sum(CASE WHEN dd > 0 THEN CAST(1 AS BIGINT) ELSE 0 END
                 * (CAST(1 AS BIGINT) << (31 - b))) AS word
      FROM ddv WHERE dd IS NOT NULL AND b < 32
      GROUP BY gid, t
    )
"""


@query(
    "wav_fingerprint_dup_pairs",
    f"""
    WITH {_fp_group_words_sql(_FP_HOP)},
    -- the scaled twin's fingerprint equals the base's (energies scale by
    -- 4, no sign flips — audited by tools/fingerprint_margin_check.py),
    -- so per-doc words come from the group table
    dw AS (
      SELECT d.doc_id AS asset_id, w.word_idx, w.word
      FROM documents d
      JOIN w ON w.gid = d.doc_id - d.doc_id % 2
    ),
    pairs AS (
      SELECT a.asset_id AS asset_a, b2.asset_id AS asset_b,
             count(*) AS n_common
      FROM dw a JOIN dw b2
        ON a.word_idx = b2.word_idx AND a.word = b2.word
       AND a.asset_id < b2.asset_id
      GROUP BY a.asset_id, b2.asset_id
    )
    SELECT asset_a, asset_b, CAST(n_common AS BIGINT) AS n_common
    FROM pairs WHERE n_common >= 3
    """,
)
def wav_fingerprint_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup RETRIEVAL — the matcher stage on top of the
    fingerprint stream: decode real WAVs (the paired corpus: odd docs
    carry their even buddy's samples amplitude-doubled — byte-different
    audio, identical fingerprint), bucket on each (word_idx, word) as an
    LSH key, equi-join the buckets, and keep pairs sharing ≥ 3 words.
    The corpus is never all-paired — candidates explode only inside
    word buckets, exactly the SimHash/pHash banding shape; 32-bit DFT
    sign words make random cross-doc collisions vanishingly rare, so
    the survivors are the amplitude twins recovered from the SIGNAL
    MATH, not byte equality."""
    from pyspark.sql import functions as F

    from etl_process_spark.multimodal.assets import (
        synthesize_paired_audio_assets,
    )

    # decode-once: both self-join sides read the same fingerprint
    # stream — one WAV decode pass, then digests only
    words = checkpoint(audio_fingerprint_words(
        synthesize_paired_audio_assets(spark, sf_dir),
        frame=_FP_FRAME, hop=_FP_HOP, n_bands=_FP_NBANDS,
    ), eager=False)
    a, b = words.alias("a"), words.alias("b")
    return (
        a.join(
            b,
            (F.col("a.word_idx") == F.col("b.word_idx"))
            & (F.col("a.word") == F.col("b.word"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .groupBy(
            F.col("a.asset_id").alias("asset_a"),
            F.col("b.asset_id").alias("asset_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 3)
    )


_FP_MAX_SHIFT = 3    # twin shift k = 1 + (gid/2) % 3 hops (assets.twin_shift_hops)
_FP_DF_CAP = 32      # document-frequency stop-word fence for the word buckets
_FP_OHOP = 32        # offset matcher runs overlapping frames (hop < frame)
                     # so the short test docs still yield enough words


@query(
    "wav_fingerprint_offset_pairs",
    f"""
    WITH {_fp_group_words_sql(_FP_OHOP)},
    -- per-doc words: the even doc carries the base words verbatim; the
    -- odd twin is time-shifted by k = 1 + (gid/2) % {_FP_MAX_SHIFT} hops and
    -- amplitude-doubled, so its word j IS the base word j + k (frame t of
    -- the twin is frame t+k of the base, bit-exactly). The twin emits
    -- words only when its truncated stream still passes the codec's
    -- 2-frame guard (n - k·hop >= 2·frame).
    shifts AS (
      SELECT gid, n, 1 + (gid // 2) % {_FP_MAX_SHIFT} AS k FROM d0
    ),
    dw AS (
      SELECT d.doc_id AS asset_id,
             CAST(w.word_idx - CASE WHEN d.doc_id % 2 = 1 THEN s.k ELSE 0 END
                  AS INT) AS word_idx,
             w.word
      FROM documents d
      JOIN w ON w.gid = d.doc_id - d.doc_id % 2
      JOIN shifts s ON s.gid = w.gid
      WHERE (d.doc_id % 2 = 0)
         OR (w.word_idx >= s.k AND s.n - s.k * {_FP_OHOP} >= {2 * _FP_FRAME})
    ),
    freq AS (
      SELECT word, count(DISTINCT asset_id) AS df FROM dw GROUP BY word
    ),
    kw AS (
      SELECT dw.asset_id, dw.word_idx, dw.word
      FROM dw JOIN freq USING (word) WHERE freq.df <= {_FP_DF_CAP}
    ),
    m AS (
      SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
             a.word_idx - b.word_idx AS off
      FROM kw a JOIN kw b
        ON a.word = b.word AND a.asset_id < b.asset_id
    ),
    v AS (
      SELECT asset_a, asset_b, off, count(*) AS c
      FROM m GROUP BY asset_a, asset_b, off
    ),
    best AS (
      SELECT asset_a, asset_b, off, c,
             row_number() OVER (PARTITION BY asset_a, asset_b
                                ORDER BY c DESC, off ASC) AS rn
      FROM v
    )
    SELECT asset_a, asset_b, CAST(off AS INT) AS best_offset,
           CAST(c AS BIGINT) AS n_votes
    FROM best WHERE rn = 1 AND c >= 3
    """,
)
def wav_fingerprint_offset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFSET-INVARIANT audio near-dup retrieval (the Haitsma–Kalker
    matcher shape): decode real WAVs from the paired corpus whose odd
    twins are amplitude-doubled AND time-shifted by 1-3 whole hops —
    byte-different audio whose fingerprint stream is the base's stream
    displaced in time. The aligned (word_idx, word) matcher of
    ``wav_fingerprint_dup_pairs`` scores ZERO common words on these
    twins (pinned by test); this matcher buckets on the 32-bit word
    ALONE, equi-joins the buckets, then votes on the word_idx offset per
    candidate pair and keeps pairs whose modal offset has ≥ 3 supporting
    words (modal = max votes, smallest offset on ties — deterministic).
    Frames overlap (hop = 32 < frame = 128) so the short test documents
    still yield enough words to clear the vote fence — standard
    fingerprinting practice (Haitsma–Kalker use 31/32 overlap).

    Scale shape: still never all-pairs — candidates explode only inside
    word buckets, and a document-frequency fence (df ≤ 32) drops
    degenerate hot words (silence-like frames) before the self-join, the
    standard stop-word guard that bounds the hottest bucket. The oracle
    REBUILDS the base words in SQL, derives the twin's shifted words by
    reindexing (exact: doubling is an exponent shift, whole-hop shifts
    align frame boundaries), and replays the vote + modal-offset pick."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_process_spark.multimodal.assets import (
        synthesize_paired_audio_assets,
    )

    # decode-once: the stream feeds the df fence AND both join sides —
    # one WAV decode pass, then integers only
    words = checkpoint(audio_fingerprint_words(
        synthesize_paired_audio_assets(
            spark, sf_dir, max_shift_hops=_FP_MAX_SHIFT, hop=_FP_OHOP
        ),
        frame=_FP_FRAME, hop=_FP_OHOP, n_bands=_FP_NBANDS,
    ), eager=False)
    keep = (
        words.groupBy("word")
        .agg(F.countDistinct("asset_id").alias("df"))
        .filter(F.col("df") <= _FP_DF_CAP)
        .select("word")
    )
    kw = words.join(keep, "word")
    a, b = kw.alias("a"), kw.alias("b")
    votes = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .groupBy(
            F.col("a.asset_id").alias("asset_a"),
            F.col("b.asset_id").alias("asset_b"),
            (F.col("a.word_idx") - F.col("b.word_idx")).alias("off"),
        )
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    win = Window.partitionBy("asset_a", "asset_b").orderBy(
        F.desc("n_votes"), F.asc("off")
    )
    return (
        votes.withColumn("rn", F.row_number().over(win))
        .filter((F.col("rn") == 1) & (F.col("n_votes") >= 3))
        .select(
            "asset_a", "asset_b",
            F.col("off").cast("int").alias("best_offset"),
            F.col("n_votes").cast("long").alias("n_votes"),
        )
    )


# ---- video near-dup: per-frame pHash + temporal-alignment vote ------------
# 24×24 frames upsample to the 32×32 pHash grid by the _area_resize fill
# rule, which for h < target is pure PIXEL DUPLICATION: pooled[p][q] =
# g[src(p)][src(q)]. The src map is embedded as SQL literals (pinned to
# _area_resize by test_codecs.py::test_video_pooled_map_matches_resize).


def _vid_srcmap_sql() -> str:
    from etl_process_spark.multimodal.assets import VID_FRAME_DIM

    h, t = VID_FRAME_DIM, 32
    m = {r * t // h: r for r in range(h)}
    src, last = [], 0
    for p in range(t):
        last = m.get(p, last)
        src.append(last)
    rows = ", ".join(f"({p}, {sr})" for p, sr in enumerate(src))
    return f"srcmap(p, sr) AS (VALUES {rows})"


@query(
    "video_phash_dup_pairs",
    f"""
    WITH grp AS (SELECT DISTINCT doc_id - doc_id % 2 AS gid FROM documents),
    vids AS (
      SELECT gid, 4 + (gid // 2) % 3 AS nf, (gid // 2) % 2 AS s FROM grp
    ),
    fr AS (SELECT gid, f FROM vids, unnest(range(0, nf)) AS t(f)),
    rows_ AS (
      SELECT gid, f, r,
             CAST('0x' || substr(md5(CAST(gid AS VARCHAR) || ':pv:'
                  || CAST(f AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 4)
                  AS BIGINT) AS fs
      FROM fr, unnest(range(0, 24)) AS tr(r)
    ),
    px AS (
      SELECT gid, f, r, c, (fs * (c + 5) + 7 * r) % 128 AS gv
      FROM rows_, unnest(range(0, 24)) AS tc(c)
    ),
    {_vid_srcmap_sql()},
    pooled AS (
      SELECT px.gid, px.f, mr.p AS p, mc.p AS q, CAST(px.gv AS DOUBLE) AS vbar
      FROM px
      JOIN srcmap mr ON px.r = mr.sr
      JOIN srcmap mc ON px.c = mc.sr
    ),
    basis AS (
      SELECT k, i,
             (CASE WHEN k = 0 THEN sqrt(1.0 / 32.0) ELSE sqrt(2.0 / 32.0) END)
               * cos(pi() * (2 * i + 1) * k / 64.0) AS m
      FROM unnest(range(0, 8)) AS a(k), unnest(range(0, 32)) AS b(i)
    ),
    t1 AS (
      SELECT pooled.gid, pooled.f, pooled.p, basis.k AS v,
             sum(pooled.vbar * basis.m) AS tv
      FROM pooled JOIN basis ON basis.i = pooled.q
      GROUP BY pooled.gid, pooled.f, pooled.p, basis.k
    ),
    -- MATERIALIZED: same determinism requirement as _PHASH_BANDS — the
    -- median element's own bit has zero margin, so the float chain must
    -- be evaluated exactly once (everything after bands is integer math)
    blk AS MATERIALIZED (
      SELECT t1.gid, t1.f, basis.k AS u, t1.v, sum(t1.tv * basis.m) AS coef
      FROM t1 JOIN basis ON basis.i = t1.p
      GROUP BY t1.gid, t1.f, basis.k, t1.v
    ),
    med AS (
      SELECT gid, f, median(coef) AS med FROM blk
      WHERE NOT (u = 0 AND v = 0) GROUP BY gid, f
    ),
    bits AS (
      SELECT b.gid, b.f, b.u * 8 + b.v AS j,
             CASE WHEN (b.u = 0 AND b.v = 0) THEN 0
                  WHEN b.coef > m.med THEN 1 ELSE 0 END AS bit
      FROM blk b JOIN med m ON b.gid = m.gid AND b.f = m.f
    ),
    bands AS MATERIALIZED (
      SELECT gid, f, j // 16 AS band,
             sum(bit * (1 << (15 - (j % 16)))) AS code
      FROM bits GROUP BY gid, f, j // 16
    ),
    ph AS (
      SELECT gid, f,
             max(CASE WHEN band = 0 THEN code END) * 65536
               + max(CASE WHEN band = 1 THEN code END) AS h1,
             max(CASE WHEN band = 2 THEN code END) * 65536
               + max(CASE WHEN band = 3 THEN code END) AS h2
      FROM bands GROUP BY gid, f
    ),
    -- per-doc frames: even doc = base verbatim; the odd twin carries
    -- frames [s, nf) affine-luma'd (identical pHash), reindexed from 0
    dfh AS (
      SELECT d.doc_id AS asset_id,
             CAST(ph.f - CASE WHEN d.doc_id % 2 = 1 THEN v.s ELSE 0 END
                  AS INT) AS frame_idx,
             ph.h1, ph.h2
      FROM documents d
      JOIN vids v ON v.gid = d.doc_id - d.doc_id % 2
      JOIN ph ON ph.gid = v.gid
      WHERE d.doc_id % 2 = 0 OR ph.f >= v.s
    ),
    dband AS (
      SELECT d.doc_id AS asset_id,
             CAST(b.f - CASE WHEN d.doc_id % 2 = 1 THEN v.s ELSE 0 END
                  AS INT) AS frame_idx,
             b.band, b.code
      FROM documents d
      JOIN vids v ON v.gid = d.doc_id - d.doc_id % 2
      JOIN bands b ON b.gid = v.gid
      WHERE d.doc_id % 2 = 0 OR b.f >= v.s
    ),
    cand AS (
      SELECT DISTINCT a.asset_id AS asset_a, a.frame_idx AS fa,
                      b2.asset_id AS asset_b, b2.frame_idx AS fb
      FROM dband a JOIN dband b2
        ON a.band = b2.band AND a.code = b2.code
       AND a.asset_id < b2.asset_id
    ),
    verif AS (
      SELECT c.asset_a, c.asset_b, c.fa - c.fb AS off
      FROM cand c
      JOIN dfh pa ON pa.asset_id = c.asset_a AND pa.frame_idx = c.fa
      JOIN dfh pb ON pb.asset_id = c.asset_b AND pb.frame_idx = c.fb
      WHERE bit_count(xor(pa.h1, pb.h1)) + bit_count(xor(pa.h2, pb.h2)) <= 6
    ),
    votes AS (
      SELECT asset_a, asset_b, off, count(*) AS c
      FROM verif GROUP BY asset_a, asset_b, off
    ),
    best AS (
      SELECT asset_a, asset_b, off, c,
             row_number() OVER (PARTITION BY asset_a, asset_b
                                ORDER BY c DESC, off ASC) AS rn
      FROM votes
    )
    SELECT asset_a, asset_b, CAST(off AS INT) AS best_offset,
           CAST(c AS BIGINT) AS n_frames_matched
    FROM best WHERE rn = 1 AND c >= 3
    """,
)
def video_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-dup detection, REAL end-to-end: walk each packed-PNG
    container, decode every frame, per-frame 64-bit pHash → frame-level
    LSH (4×16-bit band buckets, pigeonhole-complete at hamming ≤ 3) →
    exact hamming ≤ 6 verify on candidate FRAME pairs → temporal-
    alignment vote per VIDEO pair: modal frame-index offset (max votes,
    smallest offset on ties) with ≥ 3 supporting frames.

    Ground truth is perceptual AND temporal: the odd twin carries its
    even buddy's frames under the exact affine-luma map 2·g + 1
    (byte-different, pHash-identical) starting at frame s ∈ {0, 1} — so
    the matcher must recover both the pair and its time displacement.
    Candidates only ever come from (band, code) buckets: the frame
    corpus is never all-paired, the same LSH shape as the image/audio/
    text dedup paths, and only 16-char digests cross the shuffle. The
    oracle REBUILDS every frame's DCT sign bits in SQL from the integer
    pixel rule (the 24→32 pooling is pure pixel duplication under
    _area_resize's fill rule — the src map is embedded as literals and
    pinned by test) and replays the bucket join, hamming verify, and
    modal-offset vote."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_process_spark.multimodal.assets import (
        synthesize_paired_video_assets,
    )
    from etl_process_spark.multimodal.ops import packed_frame_phash

    # decode-once: frame digests feed the hash halves AND both sides of
    # the band self-join — materialize after a single container walk
    ph = checkpoint(packed_frame_phash(
        synthesize_paired_video_assets(spark, sf_dir)
    ), eager=False)
    p = ph.select(
        "asset_id", "frame_idx",
        F.conv(F.substring("phash", 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("phash", 9, 8), 16, 10).cast("long").alias("h2"),
    )
    bands = ph.select(
        "asset_id", "frame_idx",
        F.posexplode(
            F.array(*[F.substring("phash", 1 + 4 * i, 4) for i in range(4)])
        ).alias("band", "code"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("asset_a"),
            F.col("a.frame_idx").alias("fa"),
            F.col("b.asset_id").alias("asset_b"),
            F.col("b.frame_idx").alias("fb"),
        )
        .distinct()
    )
    pa = p.select(
        F.col("asset_id").alias("asset_a"), F.col("frame_idx").alias("fa"),
        F.col("h1").alias("h1a"), F.col("h2").alias("h2a"),
    )
    pb = p.select(
        F.col("asset_id").alias("asset_b"), F.col("frame_idx").alias("fb"),
        F.col("h1").alias("h1b"), F.col("h2").alias("h2b"),
    )
    hamming = F.expr("bit_count(h1a ^ h1b) + bit_count(h2a ^ h2b)")
    votes = (
        cand.join(pa, ["asset_a", "fa"])
        .join(pb, ["asset_b", "fb"])
        .filter(hamming <= 6)
        .groupBy(
            "asset_a", "asset_b", (F.col("fa") - F.col("fb")).alias("off")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    win = Window.partitionBy("asset_a", "asset_b").orderBy(
        F.desc("c"), F.asc("off")
    )
    return (
        votes.withColumn("rn", F.row_number().over(win))
        .filter((F.col("rn") == 1) & (F.col("c") >= 3))
        .select(
            "asset_a", "asset_b",
            F.col("off").cast("int").alias("best_offset"),
            F.col("c").cast("long").alias("n_frames_matched"),
        )
    )


@query(
    "audio_feature_stats",
    """
    WITH b AS (
      SELECT doc_id,
             [ascii(substr(text, i, 1)) - 128
              for i in range(1, length(text) + 1)] AS cs
      FROM documents
    )
    SELECT doc_id AS asset_id,
           CAST(len(cs) AS INTEGER) AS n_samples,
           CAST((1000000 * list_sum([abs(x) for x in cs])) // len(cs) AS BIGINT)
               AS mean_amp_ppm,
           CAST(floor(sqrt(list_sum([CAST(x AS DOUBLE) * x for x in cs])
                           / len(cs)) * 1000000) AS BIGINT)
               AS rms_e6
    FROM b
    """,
)
def audio_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over REAL WAV containers via Arrow-batched
    mapInPandas (multimodal/ops.py::audio_features): mono 16-bit PCM
    bytes → stdlib ``wave`` decode → sample count, mean amplitude, RMS,
    computed vectorized per batch. The corpus samples are the document's
    centered byte stream and PCM is lossless, so the oracle recomputes
    the identical integers from the UTF-8 code points — the contract
    that held for the byte-level decoder now verifies the WAV codec."""
    from etl_process_spark.multimodal.ops import audio_features

    return audio_features(synthesize_audio_assets(spark, sf_dir))
