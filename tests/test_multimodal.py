"""Multimodal tests (X5): real image header decode, mapInPandas shape, stubs."""

import struct

import pytest
from pyspark.sql import functions as F

from mission_data_pipeline_spark.functions.multimodal import (
    extract_audio_meta,
    extract_features,
    extract_image_meta,
    media_stats,
    probe_audio_meta,
    probe_image_meta,
    sample_frames,
)


def _wav(channels=2, rate=44100, bits=16, data_size=88200) -> bytes:
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * bits // 8, channels * bits // 8, bits)
    return (
        b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", data_size)
    )


def _png(w: int, h: int) -> bytes:
    """Structurally-valid PNG header (signature + IHDR; CRC unverified)."""
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", w, h)
        + b"\x08\x06\x00\x00\x00"
        + b"\x00" * 4
    )


def _jpeg(w: int, h: int) -> bytes:
    """Minimal JPEG: SOI + APP0(JFIF) + SOF0 with dimensions + EOI."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", h, w) + b"\x03" + bytes(9)
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x89PNG" + bytes(range(256)) * 4, ("image", "png", 64, 64, 3, None, None)),
        (2, b"RIFF" + bytes(200), ("audio", "wav", None, None, 1, 16000, 2.5)),
        (3, b"\x00\x00ftyp" + bytes(500), ("video", "mp4", 320, 240, 3, None, 10.0)),
        (4, None, ("image", "png", 8, 8, 3, None, None)),
    ]
    return spark.createDataFrame(
        rows,
        "item_id long, payload binary, "
        "meta struct<media_type:string,format:string,width:int,height:int,"
        "n_channels:int,sample_rate:int,duration_s:double>",
    )


def test_extract_features_shape(media):
    out = extract_features(media, dim=16)
    rows = {r["item_id"]: r for r in out.collect()}
    assert len(rows) == 4
    assert len(rows[1]["feature"]) == 16
    assert rows[1]["n_bytes"] == 4 + 256 * 4
    assert rows[4]["feature"] == [0.0] * 16  # null payload → zero vector
    # deterministic: same payload → same feature
    again = {r["item_id"]: r for r in extract_features(media, dim=16).collect()}
    assert rows[1]["feature"] == again[1]["feature"]


def test_probe_image_meta_formats():
    assert probe_image_meta(_png(640, 480)) == ("png", 640, 480)
    assert probe_image_meta(_jpeg(320, 200)) == ("jpeg", 320, 200)
    assert probe_image_meta(b"GIF89a" + struct.pack("<HH", 99, 44)) == ("gif", 99, 44)
    bmp = b"BM" + bytes(16) + struct.pack("<ii", 12, -34) + bytes(4)
    assert probe_image_meta(bmp) == ("bmp", 12, 34)  # top-down rows → |h|
    # unknowns / truncations degrade, never raise
    assert probe_image_meta(b"not an image at all") == (None, None, None)
    assert probe_image_meta(None) == (None, None, None)
    assert probe_image_meta(b"") == (None, None, None)
    assert probe_image_meta(_png(640, 480)[:12]) == ("png", None, None)
    assert probe_image_meta(b"\xff\xd8\xff\xe0") == ("jpeg", None, None)


def test_extract_image_meta_dataframe(spark):
    df = spark.createDataFrame(
        [(1, _png(64, 32)), (2, _jpeg(100, 50)), (3, b"garbage"), (4, None)],
        "item_id long, payload binary",
    )
    rows = {r["item_id"]: r for r in extract_image_meta(df).collect()}
    assert (rows[1]["format"], rows[1]["width"], rows[1]["height"]) == ("png", 64, 32)
    assert (rows[2]["format"], rows[2]["width"], rows[2]["height"]) == ("jpeg", 100, 50)
    assert rows[2]["n_bytes"] == len(_jpeg(100, 50))
    assert rows[3]["format"] is None and rows[3]["width"] is None
    assert rows[4]["n_bytes"] == 0


def test_real_image_features(spark):
    df = spark.createDataFrame(
        [(1, _png(64, 32), ("image", "png", None, None, None, None, None))],
        "item_id long, payload binary, "
        "meta struct<media_type:string,format:string,width:int,height:int,"
        "n_channels:int,sample_rate:int,duration_s:double>",
    )
    r = extract_features(df, dim=8, decoder="real").collect()[0]
    # real header-derived prefix: width, height, aspect, byte count
    assert r["feature"][:4] == [64.0, 32.0, 2.0, float(len(_png(64, 32)))]
    assert len(r["feature"]) == 8


def _box(t: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + t + body


def _mp4(w: int, h: int, timescale: int = 1000, duration: int = 5000) -> bytes:
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512))
    mvhd = _box(
        b"mvhd",
        bytes(12) + struct.pack(">II", timescale, duration) + bytes(80),
    )
    tkhd = _box(b"tkhd", bytes(76) + struct.pack(">II", w << 16, h << 16))
    return ftyp + _box(b"moov", mvhd + _box(b"trak", tkhd))


def test_probe_video_meta_mp4():
    from mission_data_pipeline_spark.functions.multimodal import probe_video_meta

    assert probe_video_meta(_mp4(1920, 1080)) == ("mp4", 1920, 1080, 5.0)
    assert probe_video_meta(_mp4(640, 480, 90000, 45000)) == ("mp4", 640, 480, 0.5)
    assert probe_video_meta(b"not a video") == (None, None, None, None)
    assert probe_video_meta(None) == (None, None, None, None)
    # ftyp only: recognized container, no metadata boxes
    ftyp_only = _box(b"ftyp", b"isom" + struct.pack(">I", 512))
    assert probe_video_meta(ftyp_only) == ("mp4", None, None, None)
    # truncated moov: degrade, don't raise
    m = _mp4(10, 10)
    assert probe_video_meta(m[: len(m) - 20])[0] == "mp4"


def test_extract_video_meta_dataframe(spark):
    from mission_data_pipeline_spark.functions.multimodal import extract_video_meta

    df = spark.createDataFrame(
        [(1, _mp4(320, 240, 600, 1200)), (2, b"junk")],
        "item_id long, payload binary",
    )
    rows = {r["item_id"]: r for r in extract_video_meta(df).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["duration_s"]) == (320, 240, 2.0)
    assert rows[2]["format"] is None


def test_probe_audio_meta_wav():
    assert probe_audio_meta(_wav()) == ("wav", 2, 44100, 16, 0.5)
    assert probe_audio_meta(_wav(1, 8000, 16, 16000)) == ("wav", 1, 8000, 16, 1.0)
    assert probe_audio_meta(b"not audio") == (None, None, None, None, None)
    assert probe_audio_meta(None) == (None, None, None, None, None)
    assert probe_audio_meta(b"RIFF\x00\x00\x00\x00AVI ") == ("riff", None, None, None, None)
    # fmt chunk but no data chunk → rates known, duration unknown
    headerless = _wav()[:36]
    assert probe_audio_meta(headerless) == ("wav", 2, 44100, 16, None)


def test_extract_audio_meta_dataframe(spark):
    df = spark.createDataFrame(
        [(1, _wav(1, 16000, 16, 32000)), (2, b"junk"), (3, None)],
        "item_id long, payload binary",
    )
    rows = {r["item_id"]: r for r in extract_audio_meta(df).collect()}
    assert rows[1]["sample_rate"] == 16000 and rows[1]["duration_s"] == 1.0
    assert rows[1]["n_bytes"] == len(_wav(1, 16000, 16, 32000))
    assert rows[2]["format"] is None
    assert rows[3]["n_bytes"] == 0


def test_real_decoder_perceptual_codecs_still_stub(media):
    # item 2 is "audio" but not a decodable WAV (PCM/G.711/ADPCM all
    # decode for real now) -> perceptual-codec stub still raises
    with pytest.raises(Exception, match="codec"):
        extract_features(media.filter("item_id = 2"), decoder="real").collect()
    # item 3 is "video" but not an AVI container (MJPEG decodes for
    # real now) -> inter-frame codec stub still raises
    with pytest.raises(Exception, match="codec"):
        extract_features(media.filter("item_id = 3"), decoder="real").collect()
    with pytest.raises(ValueError):
        extract_features(media, decoder="nope")


def test_sample_frames_fanout(media):
    out = sample_frames(media.filter("item_id = 3"), every_n=50, max_frames=4)
    rows = out.collect()
    assert len(rows) == 4  # 1 row in → 4 frame rows out
    assert [r["frame_idx"] for r in rows] == [0, 50, 100, 150]
    assert all(r["width"] == 320 for r in rows)


def test_media_stats_expression_only(media):
    out = {r["media_type"]: r for r in media_stats(media).collect()}
    assert out["image"]["n_items"] == 2
    assert out["video"]["total_bytes"] == 506
    # no Python UDF in the plan
    plan = media_stats(media)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_probe_video_meta_edge_boxes():
    from mission_data_pipeline_spark.functions.multimodal import probe_video_meta

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512))
    # empty (size==8) metadata box ending exactly at the payload boundary:
    # degrade to nulls, never IndexError
    assert probe_video_meta(ftyp + struct.pack(">I", 8) + b"mvhd") == (
        "mp4", None, None, None,
    )
    # largesize box (size field == 1, 64-bit length after the type)
    mvhd_body = bytes(12) + struct.pack(">II", 1000, 2000) + bytes(80)
    large_mvhd = (
        struct.pack(">I", 1) + b"mvhd"
        + struct.pack(">Q", 16 + len(mvhd_body)) + mvhd_body
    )
    assert probe_video_meta(ftyp + _box(b"moov", large_mvhd)) == (
        "mp4", None, None, 2.0,
    )
    # size==0 box (extends to end of enclosing scope) as the last top-level
    tkhd = _box(b"tkhd", bytes(76) + struct.pack(">II", 100 << 16, 50 << 16))
    moov_body = (
        _box(b"mvhd", bytes(12) + struct.pack(">II", 1000, 1000) + bytes(80))
        + _box(b"trak", tkhd)
    )
    p = ftyp + struct.pack(">I", 0) + b"moov" + moov_body
    assert probe_video_meta(p) == ("mp4", 100, 50, 1.0)


def test_real_decoder_degrades_on_dirty_rows(spark):
    schema = (
        "item_id long, payload binary, "
        "meta struct<media_type:string,format:string,width:int,height:int,"
        "n_channels:int,sample_rate:int,duration_s:double>"
    )
    meta = (None, None, None, None, None, None)
    df = spark.createDataFrame(
        [
            (1, None, ("image",) + meta),       # null payload on an image row
            (2, b"not an image", ("image",) + meta),  # unrecognized bytes
            (3, b"abc", ("imgae",) + meta),     # unknown modality (typo)
        ],
        schema,
    )
    rows = {
        r["item_id"]: r
        for r in extract_features(df, dim=4, decoder="real").collect()
    }
    # every dirty row yields the zero sentinel vector, not a crash and
    # not a silently-fake feature
    for i in (1, 2, 3):
        assert rows[i]["feature"] == [0.0, 0.0, 0.0, 0.0]


def test_png_encode_decode_roundtrip_all_filters():
    """decode_png_pixels must invert every scanline filter type (0-4)
    for every supported channel count, byte-exactly."""
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    rng = np.random.default_rng(9)
    for c in (1, 2, 3, 4):
        for h, w in ((1, 1), (5, 3), (11, 16)):
            px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
            for filters in (None, [(y + 2) % 5 for y in range(h)], [4] * h):
                back = decode_png_pixels(encode_png(px, filters=filters))
                assert back is not None and np.array_equal(back, px), (c, h, w)


def test_png_decode_malformed_sentinels():
    """Malformed payloads must yield None (sentinel), never raise: at
    scale one dirty row must not fail the Arrow batch."""
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    assert decode_png_pixels(good) is not None
    assert decode_png_pixels(None) is None
    assert decode_png_pixels(b"") is None
    assert decode_png_pixels(b"not a png at all") is None
    assert decode_png_pixels(good[:20]) is None          # truncated in IHDR
    assert decode_png_pixels(good[: len(good) // 2]) is None  # truncated IDAT
    bad = bytearray(good)
    bad[45] ^= 0xFF  # corrupt deflate stream
    assert decode_png_pixels(bytes(bad)) is None
    # header-only PNG (x5_image_meta_decode fixture shape): no IDAT
    header_only = bytes.fromhex(
        "89504E470D0A1A0A0000000D49484452000000100000001008060000001F15C489"
    )
    assert decode_png_pixels(header_only) is None


def test_image_pixel_stats_operator(spark):
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import (
        encode_png,
        image_pixel_stats,
    )

    px0 = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)  # 0..47
    rows = [
        (1, bytearray(encode_png(px0, filters=[0, 1, 2, 4]))),
        (2, bytearray(b"garbage")),
    ]
    df = spark.createDataFrame(rows, "item_id long, payload binary")
    got = {r["item_id"]: r for r in image_pixel_stats(df).collect()}
    r1 = got[1]
    assert (r1["width"], r1["height"], r1["channels"]) == (4, 4, 3)
    assert r1["px_sum"] == sum(range(48))
    assert (r1["px_min"], r1["px_max"]) == (0, 47)
    assert r1["px_mean"] == round(sum(range(48)) / 48, 6)
    r2 = got[2]
    assert r2["width"] is None and r2["px_sum"] is None


def test_real_feature_uses_decoded_pixels(spark):
    """decoder='real' on a full PNG must emit pixel statistics (mean/
    std/min/max), not just header fields."""
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import (
        _real_image_feature,
        encode_png,
    )

    px = np.full((2, 3, 1), 7, dtype=np.uint8)
    payload = encode_png(px)
    f = _real_image_feature(payload, 8)
    assert f[:3] == [3.0, 2.0, 1.5]
    assert f[4:8] == [7.0, 0.0, 7.0, 7.0]  # mean, std, min, max


def test_wav_encode_decode_roundtrip():
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import (
        decode_wav_samples,
        encode_wav,
        probe_audio_meta,
    )

    rng = np.random.default_rng(4)
    for ch in (1, 2):
        for n in (1, 7, 300):
            s = rng.integers(-32768, 32768, size=(n, ch)).astype("<i2")
            payload = encode_wav(s, rate=22050)
            dec = decode_wav_samples(payload)
            assert dec is not None
            back, rate = dec
            assert rate == 22050 and back.shape == (n, ch)
            assert np.array_equal(back, s.astype("int32"))
            # encoder output is a spec-valid WAV per the header prober too
            assert probe_audio_meta(payload)[:4] == ("wav", ch, 22050, 16)


def test_wav_decode_malformed_sentinels():
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import (
        decode_wav_samples,
        encode_wav,
    )

    good = encode_wav(np.zeros((8, 1), dtype="<i2"), rate=8000)
    assert decode_wav_samples(good) is not None
    assert decode_wav_samples(None) is None
    assert decode_wav_samples(b"") is None
    assert decode_wav_samples(b"RIFF" + bytes(200)) is None  # not WAVE
    assert decode_wav_samples(good[: len(good) // 2]) is None  # truncated
    # float/compressed format code -> stub boundary, not garbage samples
    bad = bytearray(good)
    bad[20] = 3  # IEEE float format code
    assert decode_wav_samples(bytes(bad)) is None


def test_audio_sample_stats_operator_and_real_feature(spark):
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import (
        _real_audio_feature,
        audio_sample_stats,
        encode_wav,
    )

    s = np.array([[-3], [1], [2]], dtype="<i2")
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(s, rate=8000))), (2, bytearray(b"junk"))],
        "item_id long, payload binary",
    )
    got = {r["item_id"]: r for r in audio_sample_stats(df).collect()}
    r1 = got[1]
    assert (r1["n_frames"], r1["n_channels"], r1["sample_rate"]) == (3, 1, 8000)
    assert (r1["s_sum"], r1["s_min"], r1["s_max"], r1["s_sumsq"]) == (0, -3, 2, 14)
    assert got[2]["n_frames"] is None and got[2]["s_sum"] is None

    f = _real_audio_feature(encode_wav(s, rate=8000), 8)
    assert f[:3] == [3.0, 1.0, 8000.0]
    assert f[4] == 0.0 and abs(f[5] - (14 / 3) ** 0.5) < 1e-12
    assert f[6:8] == [-3.0, 2.0]


def test_png_decompression_bomb_rejected():
    """An IDAT claiming tiny dimensions but inflating to gigabytes must
    cost one byte over budget (bounded decompress), not a task OOM."""
    import struct
    import zlib

    from mission_data_pipeline_spark.functions.multimodal import (
        _PNG_SIG,
        decode_png_pixels,
    )

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # claims 2x2 gray
    bomb = (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000))
        + chunk(b"IEND", b"")
    )
    assert decode_png_pixels(bomb) is None


def test_resize_images_png_jpeg_and_compose(spark):
    """Nearest-neighbor resize: integer-exact on PNG, works on decoded
    JPEG, composes losslessly (resize twice == resize once for exact
    divisors), corrupt payloads yield null rows."""
    import numpy as np

    from mission_data_pipeline_spark.functions.jpeg import encode_jpeg
    from mission_data_pipeline_spark.functions.multimodal import (
        decode_png_pixels,
        encode_png,
        resize_images,
    )

    ys, xs = np.mgrid[0:12, 0:16]
    png_px = ((3 * xs + 5 * ys) % 256).astype(np.uint8)
    flat = np.full((10, 10, 3), (200, 40, 90), dtype=np.uint8)
    rows = [
        (0, bytearray(encode_png(png_px))),
        (1, bytearray(encode_jpeg(flat, quality=90))),
        (2, bytearray(b"not an image")),
    ]
    media = spark.createDataFrame(rows, "item_id long, payload binary")
    out = {r["item_id"]: r for r in resize_images(media, width=4, height=3).collect()}

    # PNG: exact integer-floor expectation
    exp = png_px[((np.arange(3) * 12) // 3)[:, None], ((np.arange(4) * 16) // 4)[None, :]]
    assert out[0]["px_sum"] == int(exp.sum())
    assert (out[0]["width"], out[0]["height"], out[0]["channels"]) == (4, 3, 1)
    got_px = decode_png_pixels(bytes(out[0]["payload"]))
    assert np.array_equal(got_px[..., 0], exp)

    # JPEG flat: resize of a uniform image stays uniform
    jp = decode_png_pixels(bytes(out[1]["payload"]))
    assert jp.shape == (3, 4, 3)
    assert all(len(np.unique(jp[..., c])) == 1 for c in range(3))

    # corrupt: null sentinel row
    assert out[2]["width"] is None and out[2]["payload"] is None

    # upscale + composition: 4x4 -> 8x8 -> 4x4 returns the original
    small = ((7 * xs[:4, :4] + 11 * ys[:4, :4]) % 256).astype(np.uint8)
    m2 = spark.createDataFrame([(9, bytearray(encode_png(small)))],
                               "item_id long, payload binary")
    up = resize_images(m2, width=8, height=8)
    up_payload = up.collect()[0]["payload"]
    m3 = spark.createDataFrame([(9, bytearray(bytes(up_payload)))],
                               "item_id long, payload binary")
    back = resize_images(m3, width=4, height=4).collect()[0]
    assert np.array_equal(
        decode_png_pixels(bytes(back["payload"]))[..., 0], small
    )


def test_avi_container_roundtrip_and_probe():
    import numpy as np

    from mission_data_pipeline_spark.functions.avi import (
        decode_avi_frames,
        encode_avi_mjpeg,
        probe_avi_meta,
    )
    from mission_data_pipeline_spark.functions.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )
    from mission_data_pipeline_spark.functions.multimodal import probe_video_meta

    frames = [
        encode_jpeg(np.full((6, 8, 3), [10 + f * 5, 100, 200], dtype=np.uint8))
        for f in range(5)
    ]
    avi = encode_avi_mjpeg(frames, width=8, height=6, us_per_frame=40000)
    meta, got = decode_avi_frames(avi)
    assert meta == {
        "width": 8, "height": 6, "us_per_frame": 40000,
        "total_frames": 5, "handler": "MJPG",
    }
    assert got == frames
    assert decode_jpeg_pixels(got[3]).shape == (6, 8, 3)
    assert probe_avi_meta(avi) == ("avi", 8, 6, 0.2)
    # probe_video_meta dispatches on container magic
    assert probe_video_meta(avi) == ("avi", 8, 6, 0.2)
    # sentinels: garbage, None, truncation degrades to fewer frames
    assert decode_avi_frames(b"RIFFxxxxWAVE") is None
    assert decode_avi_frames(None) is None
    _m, fewer = decode_avi_frames(avi[: len(avi) // 2])
    assert len(fewer) < 5


def test_video_frame_stats_real_decode(spark):
    import numpy as np

    from mission_data_pipeline_spark.functions.avi import encode_avi_mjpeg
    from mission_data_pipeline_spark.functions.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )
    from mission_data_pipeline_spark.functions.multimodal import (
        video_frame_stats,
    )

    rows = []
    all_frames = {}
    for k in range(3):
        frames = [
            encode_jpeg(
                np.full((5, 7, 3), [(k * 40 + f * 9) % 256, 80, 160],
                        dtype=np.uint8),
                quality=75,
            )
            for f in range(4 + k)
        ]
        all_frames[k] = frames
        rows.append((k, bytearray(encode_avi_mjpeg(
            frames, width=7, height=5, us_per_frame=33333))))
    rows.append((9, bytearray(b"not a video")))
    media = spark.createDataFrame(rows, "item_id long, payload binary")

    out = video_frame_stats(media, every_n=2).collect()
    by_key = {(r["item_id"], r["frame_idx"]): r for r in out}
    # every-2nd frame sampled; stats equal direct JPEG decode of that frame
    for k in range(3):
        n = 4 + k
        sampled = list(range(0, n, 2))
        assert sorted(
            fi for (i, fi) in by_key if i == k
        ) == sampled
        for fi in sampled:
            px = decode_jpeg_pixels(all_frames[k][fi])
            r = by_key[(k, fi)]
            assert (r["width"], r["height"], r["channels"]) == (7, 5, 3)
            assert r["px_sum"] == int(px.sum(dtype="int64"))
            assert r["px_min"] == int(px.min())
            assert r["px_max"] == int(px.max())
    # non-AVI payload -> single null sentinel row
    sentinel = by_key[(9, None)]
    assert sentinel["px_sum"] is None and sentinel["width"] is None


def test_video_features_real_decode(spark):
    import numpy as np

    from mission_data_pipeline_spark.functions.avi import encode_avi_mjpeg
    from mission_data_pipeline_spark.functions.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    frames = [
        encode_jpeg(np.full((4, 6, 3), [f * 30, 50, 90], dtype=np.uint8))
        for f in range(6)
    ]
    avi = encode_avi_mjpeg(frames, width=6, height=4, us_per_frame=20000)
    media = spark.createDataFrame(
        [(0, bytearray(avi), ("video", "avi", 6, 4, 3, None, 0.12)),
         (1, bytearray(b"\x00" * 40), ("video", "avi", 1, 1, 3, None, None))],
        "item_id long, payload binary, "
        "meta struct<media_type:string,format:string,width:int,height:int,"
        "n_channels:int,sample_rate:int,duration_s:double>",
    )
    feats = {
        r["item_id"]: r
        for r in extract_features(
            media.filter("item_id = 0"), decoder="real", dim=8
        ).collect()
    }
    head = feats[0]["feature"]
    assert head[0] == 6.0 and head[1] == 6.0 and head[2] == 4.0
    assert head[3] == 20000.0
    first = decode_jpeg_pixels(frames[0])
    assert abs(head[5] - float(first.mean())) < 1e-4  # float32 feature


def test_avi_audio_track_roundtrip_and_sentinels(spark):
    """AVI auds-stream decode: interleaved 01wb chunk reassembly, mu-law/
    A-law/PCM8 linear decode, stereo frame split, video-only and garbage
    sentinels, truncation degradation."""
    import numpy as np

    from mission_data_pipeline_spark.functions.audio_codecs import (
        decode_alaw,
        decode_ulaw,
    )
    from mission_data_pipeline_spark.functions.avi import (
        decode_avi_audio,
        encode_avi_mjpeg,
    )
    from mission_data_pipeline_spark.functions.jpeg import encode_jpeg
    from mission_data_pipeline_spark.functions.multimodal import (
        avi_audio_sample_stats,
    )

    frame = encode_jpeg(np.full((8, 8, 3), 64, dtype=np.uint8))
    coded = bytes((j * 13 + 7) % 256 for j in range(90))

    # mu-law stereo, chunks interleaved with 3 video frames
    avi = encode_avi_mjpeg([frame] * 3, width=8, height=8, audio=coded,
                           audio_format=7, audio_rate=16000,
                           audio_channels=2)
    arr, rate = decode_avi_audio(avi)
    assert rate == 16000 and arr.shape == (45, 2)
    assert (arr == decode_ulaw(coded).reshape(45, 2)).all()

    # A-law mono, audio-only container (no video frames)
    avi2 = encode_avi_mjpeg([], width=0, height=0, audio=coded,
                            audio_format=6)
    arr2, _ = decode_avi_audio(avi2)
    assert (arr2.ravel() == decode_alaw(coded)).all()

    # PCM8 (tag 1) decodes as unsigned bytes
    avi3 = encode_avi_mjpeg([], width=0, height=0, audio=bytes([0, 128, 255]),
                            audio_format=1)
    assert decode_avi_audio(avi3)[0].ravel().tolist() == [0, 128, 255]

    # sentinels: video-only, garbage, unsupported tag
    assert decode_avi_audio(
        encode_avi_mjpeg([frame], width=8, height=8)) is None
    assert decode_avi_audio(b"not an avi") is None
    assert decode_avi_audio(
        encode_avi_mjpeg([], width=0, height=0, audio=coded,
                         audio_format=0x55)) is None
    # truncation mid-movi degrades to the chunks parsed so far
    tr = decode_avi_audio(avi[: len(avi) * 2 // 3])
    assert tr is not None and 0 < tr[0].shape[0] < 45

    # operator: stats rows with null sentinel for the video-only item
    media = spark.createDataFrame(
        [(0, bytearray(avi)),
         (1, bytearray(encode_avi_mjpeg([frame], width=8, height=8)))],
        "item_id long, payload binary",
    )
    rows = {r["item_id"]: r for r in
            avi_audio_sample_stats(media).collect()}
    exp = decode_ulaw(coded).astype("int64")
    assert rows[0]["n_frames"] == 45 and rows[0]["n_channels"] == 2
    assert rows[0]["s_sum"] == int(exp.sum())
    assert rows[0]["s_sumsq"] == int((exp ** 2).sum())
    assert rows[1]["n_frames"] is None and rows[1]["s_sum"] is None


def test_flac_codec_lossless_roundtrip_and_sentinels(spark):
    """Real FLAC subset: lossless across fixed-predictor orders 0-4,
    CONSTANT blocks, 8/16-bit, mono/stereo; truncation degrades to whole
    frames; garbage/magic-chopped payloads yield None; probe reads
    STREAMINFO."""
    import numpy as np

    from mission_data_pipeline_spark.functions.flac import (
        decode_flac_samples,
        encode_flac,
        probe_flac_meta,
    )
    from mission_data_pipeline_spark.functions.multimodal import (
        flac_sample_stats,
    )

    rng = np.random.default_rng(7)
    t = np.arange(1500)
    sig = np.stack(
        [
            (900 * np.sin(t / 50) + rng.integers(-20, 20, 1500)).astype("i8"),
            (700 * np.cos(t / 80) + rng.integers(-5, 5, 1500)).astype("i8"),
        ],
        axis=1,
    )
    for order in (0, 1, 2, 3, 4):
        fl = encode_flac(sig, rate=16000, bits=16, block_size=256,
                         order=order)
        arr, rate = decode_flac_samples(fl)
        assert rate == 16000 and (arr == sig).all(), f"order {order}"
        if order == 1:
            assert len(fl) < sig.size * 2 * 0.7  # actually compresses
    # constant block + 8-bit mono
    flat = np.full((300, 1), -321, dtype="i8")
    assert (decode_flac_samples(encode_flac(flat))[0].ravel() == -321).all()
    mono8 = rng.integers(-100, 100, 200).astype("i8")[:, None]
    assert (
        decode_flac_samples(encode_flac(mono8, bits=8, block_size=64))[0]
        .ravel()
        .tolist()
        == mono8.ravel().tolist()
    )
    assert probe_flac_meta(encode_flac(sig, rate=44100)) == (
        "flac", 2, 44100, 16, 1500)
    assert decode_flac_samples(b"garbage") is None
    assert decode_flac_samples(None) is None
    fl = encode_flac(sig, block_size=256)
    tr = decode_flac_samples(fl[: len(fl) * 2 // 3])
    n = tr[0].shape[0]
    assert 0 < n < 1500 and n % 256 == 0 and (tr[0] == sig[:n]).all()
    # out-of-range / bad args fail loudly
    import pytest as _pt

    with _pt.raises(ValueError):
        encode_flac(np.array([[40000]], dtype="i8"), bits=16)
    with _pt.raises(ValueError):
        encode_flac(flat, order=5)
    # operator path with a null sentinel
    media = spark.createDataFrame(
        [(0, bytearray(encode_flac(mono8, bits=8))), (1, bytearray(b"xx"))],
        "item_id long, payload binary",
    )
    rows = {r["item_id"]: r for r in flac_sample_stats(media).collect()}
    assert rows[0]["s_sum"] == int(mono8.sum())
    assert rows[1]["n_frames"] is None


def test_bmp_gif_real_pixel_roundtrips(spark):
    """BMP and GIF decode to REAL pixels: lossless round-trips (incl.
    odd widths, interlaced GIF, full 256-color dictionary growth),
    unified dispatch through decode_image_pixels, and sentinels."""
    import numpy as np

    from mission_data_pipeline_spark.functions.gif_bmp import (
        decode_bmp_pixels,
        decode_gif_pixels,
        encode_bmp,
        encode_gif,
    )
    from mission_data_pipeline_spark.functions.multimodal import (
        decode_image_pixels,
        image_pixel_stats,
    )

    rng = np.random.default_rng(8)
    px = rng.integers(0, 256, size=(9, 13, 3)).astype(np.uint8)
    assert (decode_bmp_pixels(encode_bmp(px)) == px).all()

    pal = rng.integers(0, 256, size=(32, 3)).astype(np.uint8)
    idx = rng.integers(0, 32, size=(17, 11)).astype(np.uint8)
    for inter in (False, True):
        got = decode_gif_pixels(encode_gif(idx, pal, interlace=inter))
        assert (got == pal[idx]).all()
    # dictionary growth + reset path
    big = rng.integers(0, 256, size=(150, 200)).astype(np.uint8)
    pal256 = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
    assert (decode_gif_pixels(encode_gif(big, pal256)) == pal256[big]).all()
    # unified dispatch picks the right decoder per magic
    assert (decode_image_pixels(encode_bmp(px)) == px).all()
    assert (decode_image_pixels(encode_gif(idx, pal)) == pal[idx]).all()
    # sentinels: garbage, truncated LZW, truncated BMP
    gif = encode_gif(idx, pal)
    assert decode_gif_pixels(gif[: len(gif) // 2]) is None
    assert decode_bmp_pixels(encode_bmp(px)[:40]) is None
    assert decode_image_pixels(b"nope") is None
    # operator path: stats over a BMP + a GIF + garbage
    media = spark.createDataFrame(
        [(0, bytearray(encode_bmp(px))), (1, bytearray(gif)),
         (2, bytearray(b"xx"))],
        "item_id long, payload binary",
    )
    rows = {r["item_id"]: r for r in image_pixel_stats(media).collect()}
    assert rows[0]["px_sum"] == int(px.sum())
    assert rows[1]["px_sum"] == int(pal[idx].sum())
    assert rows[2]["px_sum"] is None


def test_tiff_real_pixel_decode_in_engine(spark):
    """TIFF flows through the unified decode path end-to-end: dims from
    probe_image_meta, exact pixel stats from image_pixel_stats, gray
    channels=1, WhiteIsZero re-inverted, garbage nulls."""
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import (
        image_pixel_stats,
        probe_image_meta,
    )
    from mission_data_pipeline_spark.functions.tiff import encode_tiff

    rgb = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(5, 4, 3)
    gray = (np.arange(6 * 7, dtype=np.uint8) * 3 % 256).reshape(6, 7)
    b_rgb = encode_tiff(rgb, compression="packbits", big_endian=True)
    b_gray = encode_tiff(gray, photometric=0)  # stored inverted
    assert probe_image_meta(b_rgb) == ("tiff", 4, 5)
    assert probe_image_meta(b_gray) == ("tiff", 7, 6)
    media = spark.createDataFrame(
        [(0, bytearray(b_rgb)), (1, bytearray(b_gray)), (2, bytearray(b"x"))],
        "item_id long, payload binary",
    )
    rows = {r["item_id"]: r for r in image_pixel_stats(media).collect()}
    r0, r1, r2 = rows[0], rows[1], rows[2]
    assert (r0["width"], r0["height"], r0["channels"]) == (4, 5, 3)
    assert r0["px_sum"] == int(rgb.sum())
    assert (r1["width"], r1["height"], r1["channels"]) == (7, 6, 1)
    assert r1["px_sum"] == int(gray.sum())  # inversion undone
    assert r2["width"] is None and r2["px_sum"] is None
