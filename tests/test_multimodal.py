"""Multimodal operator tests: FIMG round-trip through decode/resize/
frame-sample mapInPandas stages, the real-format NotImplementedError stub,
and the media struct carrier. (m01-m03 oracle checks live in
test_queries_oracle.py via the registry.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_data_engineering_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def ids_df(spark):
    return spark.range(0, 20).select(F.col("id").alias("doc_id"))


def test_fake_image_roundtrip(spark, ids_df):
    images = M.synthesize_fake_images(ids_df, "doc_id")
    feats = {r["id"]: r for r in M.decode_images(images, "id", "data", "mime").collect()}
    assert len(feats) == 20
    for i in range(20):
        assert feats[i]["width"] == 4 + i % 16
        assert feats[i]["height"] == 4 + i % 12
        assert feats[i]["n_pixels"] == feats[i]["width"] * feats[i]["height"]
        assert 0.0 <= feats[i]["mean_pixel"] <= 255.0


def test_decode_unknown_format_raises(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n"), "image/png")], "id long, data binary, mime string"
    )
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        M.decode_images(df, "id", "data", "mime").collect()


def test_resize(spark, ids_df):
    images = M.synthesize_fake_images(ids_df, "doc_id")
    resized = M.resize_images(images, "id", "data", out_w=4, out_h=4)
    rows = resized.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["width"] == 4 and r["height"] == 4
        assert len(bytes(r["data"])) == 12 + 16  # header + 4x4 pixels
    # resized blobs decode again (bytes-in/bytes-out stage composes)
    feats = M.decode_images(
        resized.withColumn("mime", F.lit("image/x-fimg")), "id", "data", "mime"
    ).collect()
    assert all(f["n_pixels"] == 16 for f in feats)


def test_frame_sampling(spark, ids_df):
    videos = M.synthesize_fake_videos(ids_df, "doc_id")
    out = {r["id"]: r for r in M.sample_frames(videos, "id", "data", every_k=2).collect()}
    for i in range(20):
        n = 2 + i % 8
        assert out[i]["n_frames"] == n
        assert out[i]["sampled_frames"] == list(range(0, n, 2))


def test_pack_media_struct(spark):
    df = spark.createDataFrame([(1, bytearray(b"abc"))], "id long, data binary")
    packed = df.select(M.pack_media(F.col("data"), "application/octet-stream").alias("m"))
    row = packed.collect()[0]["m"]
    assert row["mime"] == "application/octet-stream"
    assert row["n_bytes"] == 3


def test_png_codec_roundtrip_all_filters():
    """Pure-Python PNG codec: every scanline filter type (0-4) must
    reconstruct the exact pixels, and the emitted bytes must be a
    structurally valid PNG (magic + CRC-checked chunks)."""
    encode_png, decode_png, _, _ = M._png_worker_fns()
    w, h = 7, 5
    pixels = bytes(((3 + k) * 31) % 256 for k in range(w * h))
    for ft in range(5):
        blob = encode_png(w, h, pixels, filter_type=ft)
        assert blob[:8] == M.PNG_MAGIC
        dw, dh, ch, out = decode_png(blob)
        assert (dw, dh, ch) == (w, h, 1)
        assert out == pixels, f"filter {ft} did not round-trip"


def test_png_corrupt_crc_rejected():
    encode_png, decode_png, _, _ = M._png_worker_fns()
    blob = bytearray(encode_png(4, 4, bytes(16)))
    blob[-5] ^= 0xFF  # flip a bit inside IEND's CRC
    import pytest

    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(blob))


def test_png_decode_matches_fimg_features(spark, ids_df):
    """PNG and FIMG generators share dims + pixel formula, so decoding the
    REAL PNGs must produce identical features to the fake-codec path —
    end-to-end proof the zlib+unfilter pipeline reconstructs every pixel."""
    png_feats = {
        r["id"]: (r["width"], r["height"], r["n_pixels"], r["mean_pixel"])
        for r in M.decode_images(
            M.synthesize_png_images(ids_df, "doc_id"), "id", "data", "mime"
        ).collect()
    }
    fimg_feats = {
        r["id"]: (r["width"], r["height"], r["n_pixels"], r["mean_pixel"])
        for r in M.decode_images(
            M.synthesize_fake_images(ids_df, "doc_id"), "id", "data", "mime"
        ).collect()
    }
    assert png_feats == fimg_feats


def test_wav_codec_roundtrip():
    """Pure-Python WAV codec: 16-bit PCM samples (incl. negatives and int16
    extremes) must round-trip exactly, and the emitted bytes must be a
    structurally valid RIFF/WAVE stream."""
    encode_wav, decode_wav = M._wav_worker_fns()
    samples = [0, 1, -1, 32767, -32768, 12345, -12345]
    blob = encode_wav(16000, samples)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    sr, nch, out = decode_wav(blob)
    assert (sr, nch) == (16000, 1)
    assert out == samples


def test_wav_decode_skips_foreign_chunks():
    """Real producers insert LIST/INFO etc. between fmt and data — the
    decoder must walk chunk-by-chunk (with even-byte padding), not assume a
    fixed layout."""
    import struct

    encode_wav, decode_wav = M._wav_worker_fns()
    blob = encode_wav(8000, [5, -7, 9])
    # splice an odd-length foreign chunk right after 'WAVE'
    foreign = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad to even
    spliced = blob[:12] + foreign + blob[12:]
    spliced = (
        spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    )  # fix RIFF size
    sr, nch, out = decode_wav(spliced)
    assert (sr, nch, out) == (8000, 1, [5, -7, 9])


def test_wav_malformed_rejected():
    import pytest
    import struct

    encode_wav, decode_wav = M._wav_worker_fns()
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"nope")
    blob = bytearray(encode_wav(8000, [1, 2]))
    struct.pack_into("<I", blob, 4, 999)  # lie about the RIFF size
    with pytest.raises(ValueError, match="length"):
        decode_wav(bytes(blob))
    # non-PCM format code must be refused, not misdecoded
    good = encode_wav(8000, [1, 2])
    fmt_pos = good.index(b"fmt ") + 8
    bad = bytearray(good)
    struct.pack_into("<H", bad, fmt_pos, 3)  # IEEE-float format code
    with pytest.raises(ValueError, match="16-bit PCM"):
        decode_wav(bytes(bad))


def test_jpeg_codec_roundtrip_multiblock():
    """Baseline JPEG codec: multi-block images (partial edge blocks, DC
    diffs of both signs across blocks) must decode to the exact per-block
    constants — exercising Huffman DC categories, EXTEND on negative
    diffs, byte stuffing, and the float IDCT's DC path."""
    encode_jpeg, decode_jpeg, *_ = M._jpeg_worker_fns()
    w, h = 19, 13  # 3x2 blocks, both edges partial
    vals = [255, 0, 128, 1, 254, 127]  # extreme swings -> max DC categories
    blob = encode_jpeg(w, h, vals)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    dw, dh, px = decode_jpeg(blob)
    assert (dw, dh) == (w, h)
    bxn = (w + 7) // 8
    for y in range(h):
        for x in range(w):
            assert px[y * w + x] == vals[(y // 8) * bxn + (x // 8)]


def test_jpeg_malformed_rejected():
    import pytest

    encode_jpeg, decode_jpeg, *_ = M._jpeg_worker_fns()
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01rubbish")
    blob = bytearray(encode_jpeg(8, 8, [100]))
    # flip SOF0 -> SOF2 (progressive): must be refused, not misdecoded
    sof_pos = bytes(blob).index(b"\xff\xc0")
    blob[sof_pos + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(blob))
    # truncated entropy stream
    good = encode_jpeg(8, 8, [100])
    with pytest.raises(ValueError):
        decode_jpeg(good[:-10] + b"\xff\xd9")


def test_mp4_codec_roundtrip():
    encode_mp4, parse_mp4, _, _ = M._mp4_worker_fns()
    blob = encode_mp4(600, 14400, [(1, 128, 96), (2, 64, 48)])
    brand, ts, dur, n_trk, w, h = parse_mp4(blob)
    assert (brand, ts, dur, n_trk) == ("isom", 600, 14400, 2)
    assert (w, h) == (128, 96)  # first track's 16.16 dims


def test_mp4_malformed_rejected():
    import pytest
    import struct

    encode_mp4, parse_mp4, _, _ = M._mp4_worker_fns()
    good = encode_mp4(600, 600, [(1, 16, 16)])
    with pytest.raises(ValueError, match="ftyp"):
        parse_mp4(good[good.index(b"moov") - 4 :])  # moov only, no ftyp
    with pytest.raises(ValueError, match="malformed box|trailing"):
        parse_mp4(good[:-3])  # truncated final box
    # box size smaller than the 8-byte header must be refused
    bad = struct.pack(">I", 4) + b"ftyp"
    with pytest.raises(ValueError, match="malformed box"):
        parse_mp4(bad)
    # mvhd version 1 (64-bit fields) is out of contract: refuse, don't
    # silently misparse the layout
    v1 = bytearray(good)
    mvhd = bytes(v1).index(b"mvhd")
    v1[mvhd + 4] = 1
    with pytest.raises(ValueError, match="version"):
        parse_mp4(bytes(v1))


def test_binary_objects_roundtrip(spark, tmp_path):
    from aws_data_engineering_spark.sources.readers import (
        read_binary_files,
        write_binary_objects,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"alpha")), (2, bytearray(b"\x00\xffbin")), (3, bytearray(b""))],
        "id bigint, data binary",
    )
    out = str(tmp_path / "objs")
    write_binary_objects(df, out, "id", "data")
    got = {
        int(r["path"].rsplit("obj_", 1)[1].removesuffix(".bin")): bytes(r["content"])
        for r in read_binary_files(spark, out, glob="obj_*.bin").collect()
    }
    # upstream contract: Spark's file index drops zero-length files, so the
    # empty object is written (exists on disk) but never emitted by the scan
    assert got == {1: b"alpha", 2: b"\x00\xffbin"}
    import os

    assert os.path.getsize(os.path.join(out, "obj_3.bin")) == 0
    # no half-written temp files survive the atomic publish
    import os

    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_spectral_peak_matches_tone_bin(spark):
    """The FFT peak of each synthesized clip must be the tone's exact bin
    k = 5 + id % 32, and dominant_hz the closed-form k * rate / n."""
    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    clips = M.synthesize_tone_wavs(docs, "doc_id")
    feats = {r["id"]: r for r in M.spectral_peak_features(clips, "id", "data").collect()}
    assert len(feats) == 40
    for i, r in feats.items():
        k = 5 + i % 32
        sr = 8000 + (i % 4) * 4000
        assert r["peak_bin"] == k
        assert r["n_samples"] == M.TONE_N_SAMPLES
        assert r["dominant_hz"] == k * sr / float(M.TONE_N_SAMPLES)


def test_audio_dynamics_closed_form(spark):
    """synthesize_dynamics_wavs -> audio_dynamics_features must round-trip
    the real WAV codec and reproduce the planted closed-form dynamics:
    silence/clip fractions are exact dyadic rationals, peak is the planted
    max, RMS is sqrt of the exact integer sum of squares / 512."""
    import math

    ids = [0, 1, 5, 7, 8, 13]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    wavs = M.synthesize_dynamics_wavs(df, "doc_id")
    feats = {
        r["id"]: r
        for r in M.audio_dynamics_features(wavs, "id", "data").collect()
    }
    for i in ids:
        n_sil = 64 + (i % 4) * 32
        n_clip = (i % 8) * 8
        amp = 8000 + (i % 5) * 1000
        body = 512 - n_sil - n_clip
        r = feats[i]
        assert r["n_samples"] == 512
        assert r["peak_abs"] == (32767 if n_clip else amp)
        assert r["silence_frac"] == n_sil / 512
        assert r["clip_frac"] == n_clip / 512
        assert r["rms"] == math.sqrt(
            (n_clip * 32767 * 32767 + body * amp * amp) / 512
        )


def test_jpeg420_roundtrip_and_rejections():
    """The 4:2:0 codec must reproduce every planted plane value exactly
    (full interleaved entropy decode + predictors + box upsampling), and
    refuse progressive, non-4:2:0 sampling, and truncated streams rather
    than misdecode them."""
    import pytest

    _, _, enc_c, dec_c, _, _ = M._jpeg_worker_fns()
    W = H = 32
    yv = [(11 + 17 * m) % 256 for m in range(4)]
    cbv = [(23 + 29 * m) % 256 for m in range(4)]
    crv = [(31 + 41 * m) % 256 for m in range(4)]
    blob = enc_c(W, H, yv, cbv, crv)
    w, h, y, cb, cr = dec_c(blob)
    assert (w, h) == (W, H)
    for m in range(4):
        r, c = divmod(m, 2)
        sl = (slice(r * 16, r * 16 + 16), slice(c * 16, c * 16 + 16))
        assert (y[sl] == yv[m]).all()
        assert (cb[sl] == cbv[m]).all()
        assert (cr[sl] == crv[m]).all()

    # progressive (SOF2) refused
    bad = bytearray(blob)
    bad[bytes(blob).index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        dec_c(bytes(bad))
    # 4:2:2 sampling (Y 2x1) refused
    bad = bytearray(blob)
    sof = bytes(blob).index(b"\xff\xc0")
    assert bad[sof + 11] == 0x22  # Y sampling byte in SOF payload
    bad[sof + 11] = 0x21
    with pytest.raises(ValueError, match="4:2:0"):
        dec_c(bytes(bad))
    # truncated entropy stream
    with pytest.raises(ValueError):
        dec_c(blob[:-12] + b"\xff\xd9")
    # non-16-multiple dims refused at encode time
    with pytest.raises(ValueError, match="16-multiple"):
        enc_c(24, 32, yv, cbv, crv)


def test_jpeg_progressive_equals_baseline_family():
    """The same constant-block coefficients through the 4-scan progressive
    wire layout and the single-scan baseline layout must decode to
    identical pixels (both are lossless on the DC-only family)."""
    import numpy as np

    enc_base, dec_base, _, _, enc_prog, dec_prog = M._jpeg_worker_fns()
    for w, h in [(8, 8), (24, 16), (16, 8)]:
        nb = (w // 8) * (h // 8)
        vals = [(v * 53 + 11) % 256 for v in range(nb)]
        bw, bh, base_px = dec_base(enc_base(w, h, vals))
        pw, ph, prog_px, n_scans = dec_prog(enc_prog(w, h, vals))
        assert (bw, bh) == (pw, ph) == (w, h)
        assert n_scans == 4
        assert base_px == prog_px


def test_jpeg_progressive_ac_reconstruction():
    """Planted AC(0,1) coefficients through all four scans against an
    independent numpy IDCT reference. |AC1|=1 is invisible to the first AC
    scan's point transform and becomes NEWLY SIGNIFICANT in the refinement
    scan; odd |AC1| exercises correction bits; sign handling both ways."""
    import numpy as np

    *_, enc_prog, dec_prog = M._jpeg_worker_fns()
    vals = [10, 100, 200, 0, 255, 37, 128, 64]
    acs = [0, 1, -1, 5, -2, 7, 0, -1]
    w, h = 32, 16
    gw, gh, px, n_scans = dec_prog(enc_prog(w, h, vals, acs))
    assert (gw, gh, n_scans) == (w, h, 4)
    got = np.frombuffer(px, np.uint8).reshape(h, w)

    k = np.arange(8)
    cos = np.cos((2 * k[:, None] + 1) * k[None, :] * np.pi / 16)
    cf = np.full(8, np.sqrt(2 / 8))
    cf[0] = np.sqrt(1 / 8)
    basis = cos * cf[None, :]
    exp = np.zeros((h, w))
    bx_n = w // 8
    for b, (v, a) in enumerate(zip(vals, acs)):
        coef = np.zeros(64)
        coef[M.JPEG_ZIGZAG[0]] = 8 * (v - 128)
        coef[M.JPEG_ZIGZAG[1]] = a  # unit quant
        blk = basis @ coef.reshape(8, 8) @ basis.T
        by, bx = b // bx_n, b % bx_n
        exp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
    expected = np.clip(np.round(exp + 128.0), 0, 255).astype(np.uint8)
    assert np.array_equal(got, expected)


def test_jpeg_progressive_rejections():
    """The progressive decoder refuses baseline streams (and vice versa) —
    misrouting a stream must raise, never misdecode."""
    enc_base, dec_base, _, _, enc_prog, dec_prog = M._jpeg_worker_fns()
    base_blob = enc_base(8, 8, [42])
    prog_blob = enc_prog(8, 8, [42])
    with pytest.raises(ValueError, match="progressive"):
        dec_prog(base_blob)
    with pytest.raises(ValueError, match="baseline"):
        dec_base(prog_blob)
    with pytest.raises(ValueError):
        dec_prog(b"\x00\x01not a jpeg")


def test_mjpeg_mux_demux_roundtrip():
    """Every sample sliced via stco+stsz must decode to the planted
    closed-form frame (m07's block family shifted by frame index), for
    several (n_frames, dims) lattice points including 8-clipped edges."""
    _, _, enc, dec = M._mp4_worker_fns()
    for vid in (0, 1, 7, 11, 123, 4567):
        n, w, h = 1 + vid % 4, 4 + vid % 16, 4 + vid % 12
        frames = dec(enc(vid, n, w, h))
        assert [f for f, *_ in frames] == list(range(n))
        bx, by = (w + 7) // 8, (h + 7) // 8
        for f, fw, fh, s in frames:
            assert (fw, fh) == (w, h)
            assert s == sum(
                ((vid + f + b) * 31) % 256
                * min(8, w - (b % bx) * 8)
                * min(8, h - (b // bx) * 8)
                for b in range(bx * by)
            )


def test_mjpeg_malformed_rejected():
    """Wrong sample-entry fourcc, out-of-range sample, multi-chunk stco,
    and box garbage are refused — never misdecoded."""
    _, _, enc, dec = M._mp4_worker_fns()
    blob = enc(3, 2, 8, 8)

    bad = bytearray(blob)
    i = blob.index(b"jpeg", blob.index(b"stsd"))
    bad[i : i + 4] = b"avc1"
    with pytest.raises(ValueError, match="avc1"):
        dec(bytes(bad))

    # inflate the last stsz entry so the sample escapes the file
    import struct

    sz = blob.index(b"stsz")
    n = struct.unpack(">I", blob[sz + 12 : sz + 16])[0]
    last = sz + 16 + 4 * (n - 1)
    bad = bytearray(blob)
    bad[last : last + 4] = struct.pack(">I", 1 << 24)
    with pytest.raises(ValueError, match="escapes"):
        dec(bytes(bad))

    # stco chunk-count != 1 refused (single-chunk layout is the contract)
    co = blob.index(b"stco")  # fourcc; +4 version/flags, +8 entry_count
    bad = bytearray(blob)
    bad[co + 8 : co + 12] = struct.pack(">I", 2)
    with pytest.raises(ValueError, match="chunk"):
        dec(bytes(bad))

    with pytest.raises(ValueError):
        dec(blob[:40])


def test_mjpeg_frame_features_spark(spark, ids_df):
    """Spark-side chain: synthesize → demux+decode emits one row per frame
    with the closed-form pixel sums."""
    movies = M.synthesize_mjpeg_videos(ids_df, "doc_id")
    rows = M.decode_mjpeg_frame_features(movies, "id", "data").collect()
    by_key = {(r["id"], r["frame_idx"]): r for r in rows}
    ids = [r["doc_id"] for r in ids_df.collect()]
    assert len(rows) == sum(1 + i % 4 for i in ids)
    for i in ids:
        w, h = 4 + i % 16, 4 + i % 12
        bx, by = (w + 7) // 8, (h + 7) // 8
        for f in range(1 + i % 4):
            r = by_key[(i, f)]
            assert (r["width"], r["height"]) == (w, h)
            assert r["n_pixels"] == w * h
            assert r["sum_pixel"] == sum(
                ((i + f + b) * 31) % 256
                * min(8, w - (b % bx) * 8)
                * min(8, h - (b // bx) * 8)
                for b in range(bx * by)
            )


def test_wav_resample_roundtrip_and_truncation(spark, ids_df):
    """Decimate-by-2 through the real codec: every output sample equals
    trunc((x[2j]+x[2j+1])/2) of the planted lattice — including negative
    pairs, where floor and truncation differ — and the re-encoded blob
    decodes as a spec-valid half-rate WAV."""
    clips = M.synthesize_wav_audio(ids_df, "doc_id")
    half = M.resample_wavs_half(clips, "id", "data")
    rows = {r["id"]: r for r in
            M.resampled_wav_features(half, "id", "data").collect()}
    for i in [r["doc_id"] for r in ids_df.collect()]:
        n = 256 + i % 512
        x = [((i + k) * 31) % 256 - 128 for k in range(n)]
        y = [int((x[2 * j] + x[2 * j + 1]) / 2) for j in range(n // 2)]
        r = rows[i]
        assert r["orig_rate"] == 8000 + (i % 4) * 4000
        assert r["new_rate"] == r["orig_rate"] // 2
        assert (r["n_in"], r["n_out"]) == (n, n // 2)
        assert r["sum_amplitude"] == sum(y)
        assert r["peak_amplitude"] == max(abs(v) for v in y)
    # at least one pair in the lattice is negative-sum (truncation visible)
    assert any(
        ((0 + 2 * j) * 31 % 256 - 128) + ((0 + 2 * j + 1) * 31 % 256 - 128) < 0
        for j in range(128)
    )


def test_each_format_is_parsed_in_one_place():
    """Each media format lives in one factory: the shared JPEG and ISO-BMFF
    helpers are defined once, the fake-format magics appear only in their
    constants, and every operator crosses the Arrow boundary through the
    one row runner."""
    import ast
    import collections
    from pathlib import Path

    src = Path(M.__file__).read_text()
    tree = ast.parse(src)
    defs = collections.Counter(
        n.name for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.ClassDef))
    )
    for name in ("_BitReader", "_BitWriter", "_huff_decode_table", "_box", "_walk"):
        assert defs[name] == 1, f"{name} defined {defs[name]} times"
    magics = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and n.value in (b"FIMG", b"FAUD")
    ]
    constants = [
        n.value
        for n in tree.body
        if isinstance(n, ast.Assign)
        and getattr(n.targets[0], "id", None) in ("FIMG_MAGIC", "FAUD_MAGIC")
    ]
    assert len(magics) == 2 and all(any(m is c for c in constants) for m in magics)
    assert src.count(".mapInPandas(") == 1


def test_row_runner_is_batch_boundary_invariant(spark):
    """The row runner's output does not depend on where Arrow batches cut
    the input: decode_mjpeg_frame_features (1-4 rows per input) and
    scene_changes (no row for a single-frame video, so a one-record batch
    emits nothing) return the same rows at 1, 3 and the default records
    per batch."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    docs = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    movies = M.synthesize_mjpeg_videos(docs, "doc_id")
    encode_fimg, _, _ = M._fimg_worker_fns()
    still = spark.createDataFrame(
        [(100, bytearray(encode_fimg(4, 4, bytes(16))))], "id bigint, data binary"
    )
    videos = M.synthesize_fake_videos(docs, "doc_id").select("id", "data").unionByName(still)

    def rows():
        return (
            sorted(map(tuple, M.decode_mjpeg_frame_features(movies, "id", "data").collect())),
            sorted(map(tuple, M.scene_changes(videos, "id", "data").collect())),
        )

    prev = spark.conf.get(key, None)
    runs = []
    try:
        for size in ("1", "3", prev):
            if size is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, size)
            runs.append(rows())
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert runs[0] == runs[1] == runs[2]
    frames, cuts = runs[0]
    assert len(frames) == sum(1 + i % 4 for i in range(12))
    assert len(cuts) == sum(1 + i % 8 for i in range(12))
    assert all(r[0] != 100 for r in cuts)
