"""Real multimodal decode paths (SURVEY §2.10): the uncompressed
formats (binary PNM images, PCM WAV audio, raw-RGB video) decode
natively inside mapInPandas — no codec libraries required — while
compressed formats keep the clearly-marked stubs (covered in
test_northstar.py)."""

from __future__ import annotations

import numpy as np
import pytest

from climate_anomaly_bigdata_pipeline_spark.operators import multimodal as MM


def _img_df(spark, arrays):
    rows = [(i, MM.encode_ppm(a)) for i, a in enumerate(arrays)]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_ppm_roundtrip():
    rgb = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    mode, w, h, arr = MM.decode_pnm_bytes(MM.encode_ppm(rgb))
    assert (mode, w, h) == ("RGB", 3, 2)
    assert np.array_equal(arr, rgb)
    gray = np.arange(6, dtype=np.uint8).reshape(2, 3)
    mode, w, h, arr = MM.decode_pnm_bytes(MM.encode_ppm(gray))
    assert (mode, w, h) == ("L", 3, 2)
    assert np.array_equal(arr, gray)


def test_pnm_header_comments():
    b = b"P5\n# a comment\n2 2\n255\n" + bytes([0, 50, 100, 200])
    mode, w, h, arr = MM.decode_pnm_bytes(b)
    assert (mode, w, h) == ("L", 2, 2)
    assert arr.tolist() == [[0, 50], [100, 200]]


def test_png_roundtrip_all_filters():
    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, (7, 5, 3), dtype=np.uint8)
    gray = rng.randint(0, 256, (6, 9), dtype=np.uint8)
    for img, want_mode in [(rgb, "RGB"), (gray, "L")]:
        for filters in [0, 1, 2, 3, 4, "cycle"]:
            mode, w, h, arr = MM.decode_png_bytes(MM.encode_png(img, filters))
            assert (mode, w, h) == (want_mode, img.shape[1], img.shape[0])
            assert np.array_equal(arr, img), (want_mode, filters)


def test_png_decode_parity_with_ppm_roundtrip(spark):
    """The same pixels through the PNG path (deflate + filters) and the
    PNM path must produce identical decode_image rows."""
    rng = np.random.RandomState(4)
    imgs = [
        rng.randint(0, 256, (5, 8, 3), dtype=np.uint8),
        rng.randint(0, 256, (4, 4), dtype=np.uint8),
    ]
    ppm = spark.createDataFrame(
        [(i, MM.encode_ppm(a)) for i, a in enumerate(imgs)],
        "doc_id long, payload binary",
    )
    png = spark.createDataFrame(
        [(i, MM.encode_png(a, filters="cycle")) for i, a in enumerate(imgs)],
        "doc_id long, payload binary",
    )
    a = sorted(map(tuple, MM.decode_image(ppm).collect()))
    b = sorted(map(tuple, MM.decode_image(png).collect()))
    assert a == b


def test_unsupported_codecs_still_stub(spark):
    # Baseline JPEG now decodes natively (operators/jpegcodec.py); the
    # honest stub surface is formats with no vendored codec, e.g. WebP.
    webp = spark.createDataFrame(
        [(0, b"RIFF\x00\x00\x00\x00WEBPVP8 ")], "doc_id long, payload binary"
    )
    with pytest.raises(Exception) as ei:
        MM.decode_image(webp).collect()
    assert "STUB" in str(ei.value)


def test_png_unsupported_features_raise_stub():
    # 16-bit depth PNG header → NotImplementedError, not silent garbage
    import struct as st
    import zlib

    ihdr = st.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    b = (
        MM._PNG_MAGIC
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + MM._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        MM.decode_png_bytes(b)


def test_decode_image_real(spark):
    solid = np.full((4, 6, 3), 100, dtype=np.uint8)  # luma == 100
    gray = np.full((2, 2), 7, dtype=np.uint8)
    out = {r["doc_id"]: r for r in MM.decode_image(_img_df(spark, [solid, gray])).collect()}
    assert (out[0]["mode"], out[0]["width"], out[0]["height"]) == ("RGB", 6, 4)
    assert out[0]["mean_luma"] == pytest.approx(100.0)
    assert (out[1]["mode"], out[1]["mean_luma"]) == ("L", 7.0)


def test_decode_audio_real(spark):
    rate = 8000
    # 1-second full-scale square wave: RMS == amplitude exactly
    samples = np.tile(np.array([1000, -1000], dtype=np.int16), rate // 2)
    df = spark.createDataFrame(
        [(1, MM.encode_wav(samples, rate))], "doc_id long, payload binary"
    )
    [row] = MM.decode_audio(df).collect()
    assert row["sample_rate"] == rate and row["channels"] == 1
    assert row["n_samples"] == rate
    assert row["duration_s"] == pytest.approx(1.0)
    assert row["rms"] == pytest.approx(1000.0)


def test_sample_frames_real(spark):
    # 10 frames, frame i solid-color i*10 -> every 3rd: frames 0,3,6,9
    frames = np.stack(
        [np.full((2, 2, 3), i * 10, dtype=np.uint8) for i in range(10)]
    )
    df = spark.createDataFrame(
        [(5, MM.encode_raw_video(frames))], "doc_id long, payload binary"
    )
    rows = sorted(
        MM.sample_frames(df, every_n=3).collect(), key=lambda r: r["frame_idx"]
    )
    assert [r["frame_idx"] for r in rows] == [0, 3, 6, 9]
    for r in rows:
        _, w, h, arr = MM.decode_pnm_bytes(bytes(r["payload"]))
        assert (w, h) == (2, 2)
        assert int(arr[0, 0, 0]) == r["frame_idx"] * 10


def test_sampled_frames_compose_with_decode(spark):
    """sample_frames output payloads are standalone P6 images, so
    decode_image consumes them directly (the composition a pipeline
    would run: demux -> per-frame feature extraction)."""
    frames = np.stack(
        [np.full((3, 3, 3), 60, dtype=np.uint8) for _ in range(4)]
    )
    df = spark.createDataFrame(
        [(1, MM.encode_raw_video(frames))], "doc_id long, payload binary"
    )
    sampled = MM.sample_frames(df, every_n=2)
    decoded = MM.decode_image(sampled).collect()
    assert len(decoded) == 2
    assert all(r["mean_luma"] == pytest.approx(60.0) for r in decoded)


# ---- baseline JPEG codec (operators/jpegcodec.py) ---------------------------


def test_jpeg_constant_grey_roundtrip_exact():
    """quality=100 constant image: the DC-only block survives the whole
    lossy pipeline bit-exactly (the property the SQL oracle relies on).
    Dims cover sub-block, multi-block, and non-multiple-of-8 edges."""
    from climate_anomaly_bigdata_pipeline_spark.operators import jpegcodec as J

    for c in (0, 7, 128, 255):
        for h, w in ((5, 9), (8, 8), (13, 17), (16, 24)):
            arr = np.full((h, w), c, dtype=np.uint8)
            mode, ww, hh, dec = J.decode_jpeg_baseline(
                J.encode_jpeg_baseline(arr, quality=100)
            )
            assert (mode, ww, hh) == ("L", w, h)
            assert np.array_equal(dec, arr)


def test_jpeg_constant_rgb_420_roundtrip_exact():
    from climate_anomaly_bigdata_pipeline_spark.operators import jpegcodec as J

    for rgb in ((10, 200, 60), (255, 0, 0), (77, 77, 77)):
        arr = np.zeros((19, 27, 3), dtype=np.uint8)
        arr[..., 0], arr[..., 1], arr[..., 2] = rgb
        mode, w, h, dec = J.decode_jpeg_baseline(
            J.encode_jpeg_baseline(arr, quality=100, subsampling="420")
        )
        assert (mode, w, h) == ("RGB", 27, 19)
        assert np.abs(dec.astype(int) - arr.astype(int)).max() <= 1


def test_jpeg_random_grey_q100_near_lossless():
    from climate_anomaly_bigdata_pipeline_spark.operators import jpegcodec as J

    arr = np.random.RandomState(7).randint(0, 256, (37, 29), dtype=np.uint8)
    _, w, h, dec = J.decode_jpeg_baseline(J.encode_jpeg_baseline(arr, 100))
    assert (w, h) == (29, 37)
    assert np.abs(dec.astype(int) - arr.astype(int)).max() <= 2


def test_jpeg_random_rgb_444_q100_near_lossless():
    from climate_anomaly_bigdata_pipeline_spark.operators import jpegcodec as J

    arr = np.random.RandomState(9).randint(0, 256, (21, 34, 3), dtype=np.uint8)
    _, w, h, dec = J.decode_jpeg_baseline(
        J.encode_jpeg_baseline(arr, 100, subsampling="444")
    )
    # one chroma round at encode + one float transform round at decode
    assert np.abs(dec.astype(int) - arr.astype(int)).max() <= 3


def test_jpeg_lossy_quality_gradient_sane():
    """quality=75 on a smooth gradient: small error, smaller payload
    than quality=100 (the quantization actually quantizes)."""
    from climate_anomaly_bigdata_pipeline_spark.operators import jpegcodec as J

    gx = np.tile(np.arange(64, dtype=np.uint8) * 2, (32, 1))
    b75 = J.encode_jpeg_baseline(gx, quality=75)
    b100 = J.encode_jpeg_baseline(gx, quality=100)
    _, _, _, dec = J.decode_jpeg_baseline(b75)
    assert np.abs(dec.astype(int) - gx.astype(int)).mean() < 3
    assert len(b75) < len(b100)


def test_jpeg_lossless_profiles_still_stubbed():
    """SOF3 (lossless) must raise the honest stub error, not
    mis-decode. (SOF2 progressive now decodes for real — see the
    progressive tests below — so the stub check moves to a profile
    that genuinely remains out of scope.)"""
    from climate_anomaly_bigdata_pipeline_spark.operators import jpegcodec as J

    b = J.encode_jpeg_baseline(np.full((8, 8), 5, dtype=np.uint8))
    assert b"\xff\xc0" in b
    lossless = b.replace(b"\xff\xc0", b"\xff\xc3", 1)
    with pytest.raises(NotImplementedError):
        J.decode_jpeg_baseline(lossless)


def test_decode_image_dispatches_jpeg(spark):
    """The shared decode_image operator now handles JPEG magic — same
    mapInPandas plumbing as PNG/PNM, no PIL stub."""
    from climate_anomaly_bigdata_pipeline_spark.operators import jpegcodec as J

    arr = np.full((6, 11), 42, dtype=np.uint8)
    df = spark.createDataFrame(
        [(3, J.encode_jpeg_baseline(arr))], "doc_id long, payload binary"
    )
    (row,) = MM.decode_image(df).collect()
    assert (row["mode"], row["width"], row["height"]) == ("L", 11, 6)
    assert row["mean_luma"] == pytest.approx(42.0)


# ---- FLAC subset codec -------------------------------------------------------


def test_flac_roundtrip_shapes_and_extremes():
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators.flaccodec import (
        decode_flac_bytes,
        encode_flac,
    )

    rng = np.random.RandomState(42)
    cases = [
        np.arange(-500, 500, dtype=np.int16),  # smooth ramp
        rng.randint(-32768, 32767, size=4096 * 2 + 7).astype(np.int16),  # noise
        np.stack(  # stereo: ramp + sine
            [
                np.arange(5000, dtype=np.int16),
                (np.sin(np.arange(5000) / 50) * 3000).astype(np.int16),
            ],
            axis=1,
        ),
        np.full(300, -7, dtype=np.int16),  # CONSTANT subframe path
        np.array([1, -1, 32767, -32768, 0], dtype=np.int16),  # extremes
        np.cumsum(rng.randint(-30, 31, size=9000)).astype(np.int16),  # walk
    ]
    for x in cases:
        b = encode_flac(x, sample_rate=16_000)
        rate, ch, bps, y = decode_flac_bytes(b)
        x2 = (x[:, None] if x.ndim == 1 else x).astype(np.int32)
        assert (rate, ch, bps) == (16_000, x2.shape[1], 16)
        assert (y == x2).all()


def test_flac_compresses_smooth_signals():
    """Fixed predictors must actually compress predictable signals —
    the point of the codec, and a regression guard against silently
    falling back to verbatim."""
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators.flaccodec import encode_flac

    ramp = np.arange(-16000, 16000, dtype=np.int16)
    assert len(encode_flac(ramp)) < 0.2 * ramp.nbytes


def test_flac_crc_detects_corruption():
    import numpy as np
    import pytest as _pytest

    from climate_anomaly_bigdata_pipeline_spark.operators.flaccodec import (
        decode_flac_bytes,
        encode_flac,
    )

    b = bytearray(encode_flac(np.arange(1000, dtype=np.int16)))
    b[len(b) // 2] ^= 0xFF  # flip a byte mid-frame
    with _pytest.raises(ValueError):
        decode_flac_bytes(bytes(b))


def test_decode_audio_handles_flac_payloads(spark, sf_dir):
    """decode_audio dispatches on the fLaC magic and returns the same
    profile row a WAV of the same samples would."""
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators import multimodal as MM
    from climate_anomaly_bigdata_pipeline_spark.operators.flaccodec import encode_flac

    samples = (np.sin(np.arange(3200) / 25) * 1000).astype(np.int16)
    rows = [
        (1, bytearray(encode_flac(samples, sample_rate=16_000))),
        (2, bytearray(MM.encode_wav(samples, sample_rate=16_000))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in MM.decode_audio(df).collect()}
    assert got[1].n_samples == got[2].n_samples == 3200
    assert got[1].rms == got[2].rms
    assert got[1].sample_rate == got[2].sample_rate == 16_000


def test_flac_lpc_roundtrip_and_decodes_via_same_decoder():
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators.flaccodec import (
        decode_flac_bytes,
        encode_flac_lpc,
    )

    rng = np.random.RandomState(7)
    t = np.arange(20000)
    cases = [
        (np.sin(t / 30) * 8000 + np.sin(t / 7) * 2000).astype(np.int16),
        np.cumsum(rng.randint(-50, 51, size=15000)).astype(np.int16),
        np.stack(
            [
                (np.sin(t[:8000] / 20) * 5000).astype(np.int16),
                (np.cos(t[:8000] / 15) * 4000).astype(np.int16),
            ],
            axis=1,
        ),
    ]
    for x in cases:
        rate, ch, bps, y = decode_flac_bytes(encode_flac_lpc(x))
        x2 = (x[:, None] if x.ndim == 1 else x).astype(np.int32)
        assert (y == x2).all()


def test_flac_lpc_beats_fixed_on_stereo_tonal():
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators.flaccodec import (
        encode_flac,
        encode_flac_lpc,
    )

    t = np.arange(8000)
    x = np.stack(
        [
            (np.sin(t / 20) * 5000).astype(np.int16),
            (np.cos(t / 15) * 4000).astype(np.int16),
        ],
        axis=1,
    )
    assert len(encode_flac_lpc(x)) < len(encode_flac(x))


# ---- progressive JPEG --------------------------------------------------------


def test_progressive_equals_baseline_reconstruction():
    """Progressive spectral-selection encoding carries the SAME
    quantized coefficients as baseline, so both decoders must
    reconstruct identical pixels at every size/parity."""
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators.jpegcodec import (
        decode_jpeg_baseline,
        decode_jpeg_progressive,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(3)
    for shape in [(16, 24), (17, 9), (32, 32, 3), (15, 21, 3), (8, 8)]:
        arr = rng.randint(0, 256, size=shape).astype(np.uint8)
        prog = decode_jpeg_progressive(encode_jpeg_progressive(arr, quality=100))[3]
        base = decode_jpeg_baseline(encode_jpeg_baseline(arr, quality=100))[3]
        assert np.array_equal(prog, base)


def test_progressive_dispatches_through_decode_jpeg_baseline():
    """SOF2 streams entering the baseline entry point must route to the
    progressive decoder (the operator-level dispatch path)."""
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators.jpegcodec import (
        decode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    smooth = np.tile(np.arange(48, dtype=np.uint8), (24, 1))
    mode, w, h, out = decode_jpeg_baseline(encode_jpeg_progressive(smooth))
    assert (mode, w, h) == ("L", 48, 24)
    assert np.array_equal(out, smooth)  # q=100 DC+AC exact on smooth ramp


def test_flac_multibyte_frame_numbers():
    """Streams with >128 frames exercise the multi-byte UTF-8-coded
    frame-number path in both directions."""
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators.flaccodec import (
        decode_flac_bytes,
        encode_flac,
    )

    x = np.arange(200 * 64, dtype=np.int16)  # 200 frames at block 64
    rate, ch, bps, y = decode_flac_bytes(encode_flac(x, block_size=64))
    assert (y[:, 0] == x.astype(np.int32)).all()


def test_successive_approximation_equals_baseline_reconstruction():
    """SA streams (Al=1 first scans + refinement scans) carry the same
    quantized coefficients split across precision levels; after the
    refinement pass the decoder must reconstruct EXACTLY the baseline
    pipeline's pixels — the independent cross-check that validates the
    T.81 correction-bit walk on both sides."""
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators.jpegcodec import (
        decode_jpeg_baseline,
        decode_jpeg_progressive,
        encode_jpeg_baseline,
        encode_jpeg_progressive_sa,
    )

    rng = np.random.RandomState(11)
    for shape in [(8, 8), (16, 24), (17, 9), (32, 32, 3), (15, 21, 3)]:
        arr = rng.randint(0, 256, size=shape).astype(np.uint8)
        sa = decode_jpeg_progressive(encode_jpeg_progressive_sa(arr, quality=100))[3]
        base = decode_jpeg_baseline(encode_jpeg_baseline(arr, quality=100))[3]
        assert np.array_equal(sa, base)


def test_successive_approximation_smooth_lossless_at_q100():
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators.jpegcodec import (
        decode_jpeg_baseline,
        encode_jpeg_progressive_sa,
    )

    smooth = np.tile(np.arange(48, dtype=np.uint8), (24, 1))
    mode, w, h, out = decode_jpeg_baseline(encode_jpeg_progressive_sa(smooth))
    assert np.array_equal(out, smooth)
