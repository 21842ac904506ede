from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from document_extraction_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (0, "image", "image/png", b"\x89PNG fake bytes here", 64, 64, 0),
        (1, "audio", "audio/wav", bytes(range(256)), 0, 0, 1000),
        (2, "video", "video/mp4", b"", 0, 0, 0),            # empty -> decode_failed
        (3, "image", "image/png", None, 0, 0, 0),           # null  -> decode_failed
    ]
    return spark.createDataFrame(rows, MM.MEDIA_SCHEMA)


def test_feature_schema_and_shapes(spark, media):
    out = MM.extract_media_features(media)
    assert out.schema == MM.FEATURES_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 4
    ok = rows[1]
    assert not ok["decode_failed"]
    assert ok["n_bytes"] == 256
    feats = np.array(ok["features"])
    assert feats.shape == (MM.FEATURE_DIM,)
    assert abs(feats.sum() - 1.0) < 1e-5   # L1-normalized histogram
    # uniform bytes 0..255 -> uniform 16-bin histogram
    assert np.allclose(feats, 1.0 / MM.FEATURE_DIM, atol=1e-6)


def test_decode_failures_flagged_not_crashed(spark, media):
    rows = {r["media_id"]: r for r in MM.extract_media_features(media).collect()}
    assert rows[2]["decode_failed"] and rows[3]["decode_failed"]
    assert rows[0]["decode_failed"] is False


def test_ppm_decode_known_bytes_exact():
    """Hand-written P6 file (with a header comment) decodes byte-exactly:
    2x2 RGB — red, green / blue, white."""
    ppm = b"P6\n# a comment\n2 2\n255\n" + bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    )
    img = MM.decode_image(ppm, "image/x-portable-pixmap")
    want = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8
    )
    assert img.shape == (2, 2, 3)
    assert np.array_equal(img, want)


def test_pgm_decode_expands_grayscale():
    pgm = b"P5\n3 1\n255\n" + bytes([0, 128, 255])
    img = MM.decode_image(pgm)
    assert img.shape == (1, 3, 3)
    assert np.array_equal(img[0, :, 0], [0, 128, 255])
    assert np.array_equal(img[..., 0], img[..., 1]) and np.array_equal(
        img[..., 1], img[..., 2]
    )


def test_ppm_roundtrip_and_bmp_roundtrip_with_padding():
    """encode -> decode is the identity, including the BMP 4-byte row pad
    (w=3 -> 9 data bytes + 3 pad per row) and bottom-up row order."""
    rng = np.random.RandomState(11)
    for h, w in [(2, 2), (5, 3), (1, 7), (16, 16)]:
        arr = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        assert np.array_equal(MM.decode_image(MM.encode_ppm(arr)), arr), (h, w)
        assert np.array_equal(MM.decode_image(MM.encode_bmp(arr)), arr), (h, w)


def test_decode_rejects_corrupt_and_unknown():
    with pytest.raises(ValueError):
        MM.decode_image(b"")  # empty
    with pytest.raises(ValueError):
        MM.decode_image(b"P6\n4 4\n255\n\x00\x01")  # truncated pixels
    with pytest.raises(ValueError):
        MM.decode_image(b"P6\n0 4\n255\n")  # zero dimension
    with pytest.raises(ValueError):
        MM.decode_image(b"BM" + b"\x00" * 60)  # bogus BMP header
    with pytest.raises(ValueError):
        MM.decode_image(b"\x89PNG not actually decodable here")


def test_synth_images_decode_to_real_dims(spark):
    """The synthetic image table's payloads are REAL rasters: features carry
    width/height from decoded pixels matching the generator's closed form,
    for the PPM (id%3==0), BMP (id%3==1) and PNG (id%3==2) flavors."""
    docs = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    media = MM.synth_image_media_df(spark, docs)
    rows = {r["media_id"]: r for r in MM.extract_media_features(media).collect()}
    assert len(rows) == 10
    for did, r in rows.items():
        assert r["decoded"] is True and r["decode_failed"] is False
        assert r["width"] == 8 + did % 9
        assert r["height"] == 8 + (did // 3) % 9
        feats = np.array(r["features"])
        assert abs(feats.sum() - 1.0) < 1e-5
    # and the summary's pixel sum equals the closed form exactly
    sums = {
        r["media_id"]: r for r in MM.media_decode_summary(media).collect()
    }
    for did, r in sums.items():
        arr = MM.synth_image_pixels(did)
        assert r["pix_sum"] == int(arr.astype(np.int64).sum())
        assert r["fmt"] == {0: "ppm", 1: "bmp", 2: "png"}[did % 3]


def test_resize_real_pixels_nearest_neighbor(spark):
    """Decodable payloads resize on REAL pixels: a 4x4 image downsampled to
    2x2 keeps the floor-sampled gather pixels, re-encoded as P6."""
    arr = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    media = spark.createDataFrame(
        [(0, "image", "image/x-portable-pixmap", MM.encode_ppm(arr), 4, 4, 0)],
        MM.MEDIA_SCHEMA,
    )
    out = MM.resize_images(media, 2, 2).collect()[0]
    assert out["decode_failed"] is False
    got = MM.decode_image(out["payload"])
    idx = np.linspace(0, 3, 2).astype(np.int64)  # [0, 3]
    assert np.array_equal(got, arr[idx][:, idx])


def test_resize_shapes_and_failures(spark, media):
    out = {r["media_id"]: r for r in MM.resize_images(media, 8, 8).collect()}
    assert len(out) == 4
    assert len(out[1]["payload"]) == 64
    assert out[1]["decode_failed"] is False
    assert out[2]["decode_failed"] and out[2]["payload"] is None
    assert out[3]["decode_failed"] is True
    # deterministic: same input -> same bytes
    again = {r["media_id"]: r for r in MM.resize_images(media, 8, 8).collect()}
    assert again[1]["payload"] == out[1]["payload"]


def test_frame_sampling_fanout(spark, media):
    frames = MM.sample_frames(media, n_frames=4, frame_bytes=16).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == {0, 1}  # empty/null payloads produce no frames
    for mid, rows in by_media.items():
        assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == [0, 1, 2, 3]
        assert all(len(r["frame"]) == 16 for r in rows)
    # media 1 has duration 1000ms -> evenly spaced timestamps
    ts = sorted(r["frame_ts_ms"] for r in by_media[1])
    assert ts == [0, 333, 666, 1000]


def test_wav_roundtrip_mono_and_stereo():
    rng = np.random.RandomState(5)
    for frames, channels, rate in [(100, 1, 8000), (257, 2, 44100), (1, 1, 16000)]:
        arr = rng.randint(-32768, 32768, (frames, channels))
        rate2, ch2, got = MM.decode_wav(MM.encode_wav(arr, rate))
        assert (rate2, ch2) == (rate, channels)
        assert np.array_equal(got, arr)


def test_wav_decode_known_bytes_exact():
    """Hand-assembled 16-bit PCM WAV with an extra LIST chunk before data
    (chunk-walk must skip it): 3 mono frames at 8 kHz."""
    import struct as st

    fmt = st.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = st.pack("<3h", -1000, 0, 1000)
    body = (
        b"WAVE"
        + b"fmt " + st.pack("<I", len(fmt)) + fmt
        + b"LIST" + st.pack("<I", 4) + b"INFO"   # skipped
        + b"data" + st.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + st.pack("<I", len(body)) + body
    rate, ch, samples = MM.decode_wav(wav)
    assert (rate, ch) == (8000, 1)
    assert samples.flatten().tolist() == [-1000, 0, 1000]


def test_wav_8bit_and_rejects():
    import struct as st

    # 8-bit unsigned PCM recentres to signed
    fmt = st.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    data = bytes([0, 128, 255])
    body = (b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", len(data)) + data)
    rate, ch, samples = MM.decode_wav(b"RIFF" + st.pack("<I", len(body)) + body)
    assert samples.flatten().tolist() == [-128, 0, 127]
    with pytest.raises(ValueError):
        MM.decode_wav(b"RIFF")                    # too short
    with pytest.raises(ValueError):
        MM.decode_wav(b"OggS" + b"\x00" * 60)     # wrong container
    # non-PCM fmt tag rejected
    fmt_f = st.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body_f = (b"WAVE" + b"fmt " + st.pack("<I", len(fmt_f)) + fmt_f
              + b"data" + st.pack("<I", 0))
    with pytest.raises(ValueError, match="PCM"):
        MM.decode_wav(b"RIFF" + st.pack("<I", len(body_f)) + body_f)


def test_synth_audio_decodes_to_closed_form(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    media = MM.synth_audio_media_df(spark, docs)
    rows = {r["media_id"]: r for r in MM.audio_decode_summary(media).collect()}
    assert len(rows) == 8
    for did, r in rows.items():
        rate, samples = MM.synth_audio_samples(did)
        assert r["sample_rate"] == rate
        assert r["n_channels"] == samples.shape[1]
        assert r["n_frames"] == samples.shape[0]
        assert r["duration_ms"] == samples.shape[0] * 1000 // rate
        assert r["amp_sum"] == int(np.abs(samples).sum())


def test_ppm_stream_roundtrip_and_boundaries():
    rng = np.random.RandomState(9)
    frames = [rng.randint(0, 256, (4, 5, 3)).astype(np.uint8) for _ in range(6)]
    clip = b"".join(MM.encode_ppm(f) for f in frames)
    got = MM.decode_ppm_stream(clip)
    assert len(got) == 6
    for a, b in zip(frames, got):
        assert np.array_equal(a, b)
    with pytest.raises(ValueError):
        MM.decode_ppm_stream(clip + b"garbage")   # bad trailing boundary
    with pytest.raises(ValueError):
        MM.decode_ppm_stream(clip[:-5])           # truncated last frame


def test_video_frame_summary_real_decode(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    media = MM.synth_video_media_df(spark, docs)
    rows = MM.video_frame_summary(media, n_sample=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["media_id"], []).append(r)
    assert set(by_doc) == set(range(6))
    for did, rs in by_doc.items():
        n_frames = 4 + did % 5
        rs = sorted(rs, key=lambda r: r["sample_idx"])
        assert [r["frame_idx"] for r in rs] == [0, (n_frames - 1) // 2, n_frames - 1]
        for r in rs:
            arr = MM.synth_video_pixels(did, r["frame_idx"])
            assert r["pix_sum"] == int(arr.astype(np.int64).sum())
            assert (r["height"], r["width"]) == arr.shape[:2]
            assert r["n_frames"] == n_frames


def test_byte_fallback_deterministic():
    s = pd.Series([b"hello world", b"hello world"])
    out = MM.decode_features(s)
    assert list(out["features"][0]) == list(out["features"][1])
    assert not out["decoded"].any()  # plain text takes the byte path
    assert out["width"].isna().all()


# ---------------------------------------------------------------------------
# PNG (round-6): stdlib-zlib decode, all five filter types, color types
# ---------------------------------------------------------------------------


def _png_forward_filter(img, filters):
    """Spec 9.2 FORWARD filtering (test-side reference implementation):
    build the zlib payload for `img` applying `filters[y]` per scanline."""
    import numpy as np

    h, w, c = img.shape
    flat = img.reshape(h, w * c).astype(np.int32)
    bpp = c
    out = []
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        f = filters[y]
        row = np.zeros(w * c, dtype=np.int32)
        for x in range(w * c):
            left = cur[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
            row[x] = (cur[x] - pred) & 0xFF
        out.append(bytes([f]) + row.astype(np.uint8).tobytes())
        prev = cur
    return b"".join(out)


def _png_wrap(w, h, color_type, zpayload):
    import struct
    import zlib

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(zpayload)) + chunk(b"IEND", b""))


def test_png_roundtrip_filters_0_and_2():
    import numpy as np

    from document_extraction_spark.operators.multimodal import (
        _decode_png, encode_png, synth_image_pixels)

    for did in (2, 5, 17, 40):
        arr = synth_image_pixels(did)
        for ft in (0, 2):
            assert np.array_equal(_decode_png(encode_png(arr, ft)), arr)


def test_png_all_five_filters_decode_exactly():
    import zlib

    import numpy as np

    from document_extraction_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    filters = [0, 1, 2, 3, 4]
    buf = _png_wrap(6, 5, 2, _png_forward_filter(img, filters))
    assert np.array_equal(_decode_png(buf), img)


def test_png_gray_and_rgba_color_types():
    import numpy as np

    from document_extraction_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, size=(4, 3, 1), dtype=np.uint8)
    buf = _png_wrap(3, 4, 0, _png_forward_filter(gray, [0, 1, 2, 4]))
    assert np.array_equal(_decode_png(buf), np.repeat(gray, 3, axis=2))

    rgba = rng.integers(0, 256, size=(3, 3, 4), dtype=np.uint8)
    buf = _png_wrap(3, 3, 6, _png_forward_filter(rgba, [4, 3, 1]))
    assert np.array_equal(_decode_png(buf), rgba[:, :, :3])


def test_png_rejects_interlace_and_16bit():
    import struct
    import zlib

    import pytest

    from document_extraction_spark.operators.multimodal import _decode_png

    def ihdr_png(depth, interlace):
        def chunk(ctype, data):
            crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
            return (struct.pack(">I", len(data)) + ctype + data
                    + struct.pack(">I", crc))
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, 2, 0, 0, interlace)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
                + chunk(b"IEND", b""))

    with pytest.raises(ValueError, match="interlace"):
        _decode_png(ihdr_png(8, 1))
    with pytest.raises(ValueError, match="depth"):
        _decode_png(ihdr_png(16, 0))


def test_decode_image_dispatches_png():
    import numpy as np

    from document_extraction_spark.operators.multimodal import (
        decode_image, encode_png, synth_image_pixels)

    arr = synth_image_pixels(8)
    assert np.array_equal(decode_image(encode_png(arr, 2)), arr)
