import pytest

from rlr_spark.functions.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    decode_image,
    extract_features,
    fake_features,
    frame_sample_plan,
)


def _media(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes", (64, 64, None, "image/png")),
        (2, "image", b"\x89PNG other bytes", (32, 32, None, "image/png")),
        (3, "video", b"\x00\x00vid", (640, 480, 3500, "video/mp4")),
        (4, "audio", None, (None, None, 2000, "audio/wav")),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        decode_image(b"anything")


def test_fake_features_deterministic():
    a = fake_features(b"payload")
    b = fake_features(b"payload")
    c = fake_features(b"other")
    assert a == b and a != c
    assert len(a) == FEATURE_DIM and all(0.0 <= x < 1.0 for x in a)
    assert fake_features(None) == [0.0] * FEATURE_DIM


def test_extract_features_plumbing(spark):
    media = _media(spark)
    out = extract_features(media)
    assert out.schema["features"].dataType.simpleString() == "array<double>"
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == 4
    assert rows[1].features == fake_features(b"\x89PNG fake bytes")
    assert rows[4].features == [0.0] * FEATURE_DIM
    # metadata struct survives the mapInPandas round-trip
    assert rows[3].meta.duration_ms == 3500


def test_frame_sample_plan(spark):
    media = _media(spark)
    frames = frame_sample_plan(media, every_ms=1000).collect()
    got = sorted((r.media_id, r.frame_ts_ms) for r in frames)
    assert got == [(3, 0), (3, 1000), (3, 2000), (3, 3000)]


def test_ppm_roundtrip_and_resize():
    import numpy as np

    from rlr_spark.functions.multimodal import (
        decode_image,
        decode_ppm,
        encode_ppm,
        resize_nearest,
    )

    img = np.zeros((4, 6, 3), dtype=np.uint8)
    img[:, :, 0] = 200  # red-dominant
    img[0, 0] = (1, 2, 3)
    payload = encode_ppm(img)
    back = decode_ppm(payload)
    assert back.shape == (4, 6, 3) and (back == img).all()
    assert (decode_image(payload) == img).all()  # dispatch picks P6
    small = resize_nearest(back, 3, 2)
    assert small.shape == (2, 3, 3)
    # comment + whitespace variants in the header parse too
    wc = b"P6\n# a comment\n6 4\n255\n" + img.tobytes()
    assert (decode_ppm(wc) == img).all()


def test_wav_roundtrip():
    import numpy as np

    from rlr_spark.functions.multimodal import encode_wav_pcm16, parse_wav

    t = np.arange(16_000)  # 1 s at 16 kHz
    samples = (1000 * np.sin(2 * np.pi * 440 * t / 16_000)).astype(np.int16)
    meta, back = parse_wav(encode_wav_pcm16(samples, 16_000, 1))
    assert meta == {"sample_rate": 16_000, "channels": 1, "duration_ms": 1000}
    assert (back == samples).all()


def test_image_audio_stats_operators(spark):
    import numpy as np

    from rlr_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        audio_stats,
        encode_ppm,
        encode_wav_pcm16,
        image_stats,
    )

    img = np.full((2, 2, 3), (10, 20, 30), dtype=np.uint8)
    wav = encode_wav_pcm16(np.full(8000, 100, dtype=np.int16), 8_000, 1)
    rows = [
        (1, "image", bytearray(encode_ppm(img)), (2, 2, None, "image/x-portable-pixmap")),
        (2, "image", bytearray(b"\x89PNG compressed"), (0, 0, None, "image/png")),
        (3, "audio", bytearray(wav), (None, None, 1000, "audio/wav")),
        (4, "audio", bytearray(b"ID3 mp3 frame"), (None, None, 999, "audio/mpeg")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    istats = {r.media_id: r for r in image_stats(media).collect()}
    assert istats[1].decoded and (istats[1].width, istats[1].height) == (2, 2)
    assert (istats[1].mean_r, istats[1].mean_g, istats[1].mean_b) == (10.0, 20.0, 30.0)
    assert not istats[2].decoded and istats[2].width is None

    astats = {r.media_id: r for r in audio_stats(media).collect()}
    assert astats[3].decoded and astats[3].sample_rate == 8_000
    assert astats[3].duration_ms == 1000 and astats[3].rms == 100.0
    assert not astats[4].decoded and astats[4].rms is None


def test_png_roundtrip_all_filters():
    """decode_png must invert every scanline filter type (None/Sub/Up/
    Average/Paeth) on a deterministic gradient image."""
    import numpy as np

    from rlr_spark.functions.multimodal import decode_image, decode_png, encode_png

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    for filters in ([0] * 5, [1] * 5, [2] * 5, [3] * 5, [4] * 5, [0, 1, 2, 3, 4]):
        payload = encode_png(img, row_filters=list(filters))
        got = decode_png(payload)
        assert np.array_equal(got, img), f"filters {filters} round-trip failed"
    # dispatch: magic bytes route PNG to the real decoder
    assert np.array_equal(decode_image(encode_png(img)), img)


def test_png_grey_and_alpha_normalize_to_rgb():
    import numpy as np

    from rlr_spark.functions.multimodal import decode_png, encode_png

    grey = np.arange(12, dtype=np.uint8).reshape(3, 4)
    g = decode_png(encode_png(grey))
    assert g.shape == (3, 4, 3) and np.array_equal(g[:, :, 0], grey)
    assert np.array_equal(g[:, :, 1], g[:, :, 2])

    rgba = np.zeros((2, 2, 4), dtype=np.uint8)
    rgba[..., :3] = 77
    rgba[..., 3] = 128  # alpha dropped, not composited
    a = decode_png(encode_png(rgba, row_filters=[4, 2]))
    assert a.shape == (2, 2, 3) and (a == 77).all()


def test_png_unsupported_variants_raise():
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from rlr_spark.functions.multimodal import PNG_SIG, decode_png, encode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # unknown interlace method / color type / illegal depth -> ValueError
    for ihdr in (
        struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 2),  # interlace method 2
        struct.pack(">IIBBBBB", 2, 2, 8, 5, 0, 0, 0),  # color type 5
        struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0),  # depth 4 RGB illegal
    ):
        bad_hdr = PNG_SIG + chunk(b"IHDR", ihdr) + chunk(
            b"IDAT", zlib.compress(b"\x00" * 14)
        ) + chunk(b"IEND", b"")
        with _pytest.raises(ValueError):
            decode_png(bad_hdr)

    # palette png without PLTE -> ValueError
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    no_plte = PNG_SIG + chunk(b"IHDR", ihdr) + chunk(
        b"IDAT", zlib.compress(b"\x00\x00\x00" * 2)
    ) + chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="PLTE"):
        decode_png(no_plte)

    # palette index past the PLTE end -> ValueError, not garbage pixels
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    oob = PNG_SIG + chunk(b"IHDR", ihdr) + chunk(
        b"PLTE", bytes((1, 2, 3))
    ) + chunk(b"IDAT", zlib.compress(b"\x00\x07")) + chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="palette index"):
        decode_png(oob)

    # truncated IDAT -> ValueError (caught by image_stats' contract)
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    payload = bytearray(encode_png(img))
    bad = payload.replace(zlib.compress(b"\x00" * 14), zlib.compress(b"\x00" * 3))
    with _pytest.raises(ValueError):
        decode_png(bytes(bad))


def test_png_palette_subbyte_16bit_adam7():
    """The rest of the PNG matrix, every layout driven by real encoder
    bytes: palette at depths 8/4/2/1, greyscale at 1/2/4 (scaled to
    8-bit exactly), 16-bit grey/RGB/RGBA (high-byte projection), and
    Adam7 interlacing for plain, palette, and 16-bit rasters — odd
    geometries included so empty/partial passes are exercised."""
    import numpy as np

    from rlr_spark.functions.multimodal import decode_png, encode_png

    rng = np.random.default_rng(3)

    # Adam7 RGB at geometries hitting empty passes (1x1) and partial ones
    for shape in [(9, 10, 3), (1, 1, 3), (3, 2, 3), (16, 5, 3)]:
        im = rng.integers(0, 256, size=shape, dtype=np.uint8)
        p = encode_png(im, interlace=True, row_filters=[0, 1, 2, 3, 4])
        assert np.array_equal(decode_png(p), im), shape

    # palette: every legal depth, sequential and interlaced
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    for d, n in [(8, 16), (4, 16), (2, 4), (1, 2)]:
        idx = rng.integers(0, n, size=(7, 9), dtype=np.uint8)
        p = encode_png(idx, palette=pal[:n], depth=d, row_filters=[0, 1, 2, 3, 4])
        assert np.array_equal(decode_png(p), pal[:n][idx]), d
        p2 = encode_png(idx, palette=pal[:n], depth=d, interlace=True)
        assert np.array_equal(decode_png(p2), pal[:n][idx]), ("adam7", d)

    # greyscale sub-byte depths scale exactly (255 / 85 / 17 per level)
    for d in (1, 2, 4):
        mx = (1 << d) - 1
        g = rng.integers(0, mx + 1, size=(5, 11), dtype=np.uint8)
        got = decode_png(encode_png(g, depth=d, row_filters=[0, 1, 2, 3, 4]))
        exp = np.repeat((g * (255 // mx))[:, :, None], 3, axis=2)
        assert np.array_equal(got, exp), d

    # grey+alpha (color type 4): grey replicates, alpha dropped — 8/16-bit
    ga = rng.integers(0, 256, size=(3, 5, 2), dtype=np.uint8)
    got = decode_png(encode_png(ga, row_filters=[0, 3, 4]))
    assert np.array_equal(got, np.repeat(ga[:, :, :1], 3, axis=2))
    ga16 = rng.integers(0, 65536, size=(3, 5, 2), dtype=np.uint16)
    got = decode_png(encode_png(ga16, depth=16, interlace=True))
    hi = (ga16[:, :, 0] >> 8).astype(np.uint8)
    assert np.array_equal(got, np.repeat(hi[:, :, None], 3, axis=2))

    # 16-bit: grey replicates, RGB passes through, RGBA drops alpha
    for ch in (1, 3, 4):
        shape = (4, 6) if ch == 1 else (4, 6, ch)
        a16 = rng.integers(0, 65536, size=shape, dtype=np.uint16)
        hi = (a16 >> 8).astype(np.uint8)
        exp = (
            np.repeat(hi[:, :, None], 3, axis=2) if ch == 1 else hi[:, :, :3]
        ) if ch != 3 else hi
        got = decode_png(encode_png(a16, depth=16, row_filters=[0, 1, 2, 3, 4]))
        assert np.array_equal(got, exp), ch
        got_i = decode_png(encode_png(a16, depth=16, interlace=True))
        assert np.array_equal(got_i, exp), ("adam7-16", ch)


def test_image_stats_decodes_real_png(spark):
    """The operator path: planted 8-bit RGB PNGs decode inside the
    mapInPandas batch with golden channel means; a JPEG payload (no
    decoder) lands decoded=false instead of failing the task."""
    import numpy as np

    from rlr_spark.functions.multimodal import MEDIA_SCHEMA, encode_png, image_stats

    img = np.full((4, 6, 3), (200, 100, 50), dtype=np.uint8)
    rows = [
        (1, "image", bytearray(encode_png(img, row_filters=[0, 1, 2, 4])),
         (6, 4, None, "image/png")),
        (2, "image", bytearray(b"\xff\xd8\xff\xe0 jpeg"), (0, 0, None, "image/jpeg")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in image_stats(media).collect()}
    assert got[1].decoded and (got[1].width, got[1].height) == (6, 4)
    assert (got[1].mean_r, got[1].mean_g, got[1].mean_b) == (200.0, 100.0, 50.0)
    assert not got[2].decoded
