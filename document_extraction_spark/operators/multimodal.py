"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched kernels over ``mapInPandas``.

The decode step is REAL without codec libraries: pure-numpy decoders for
binary PPM/PGM (P6/P5) and 24-bpp uncompressed BMP (round-5), plus 8-bit
non-interlaced PNG via stdlib zlib inflate + numpy scanline unfiltering
(round-6 — PNG is the reference's native page-image format). PIL, when
installed, is the import-guarded upgrade for JPEG and the rest; payloads
neither path can decode fall back to the byte-level feature stand-in with
``decoded = false`` so the pipeline never crashes on a corrupt object.

This is the engine's generalization of the reference's page-image path
(/root/reference/src/pdf_extractor/extractor.py:21-32: PDF -> PNG bytes list);
here one row = one media object, metadata typed instead of implicit.
"""

from __future__ import annotations

import struct
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),        # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),      # opaque encoded bytes
        T.StructField("width", T.IntegerType()),       # typed metadata
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("decoded", T.BooleanType()),     # real pixel decode ran
        T.StructField("width", T.IntegerType()),       # from decoded pixels
        T.StructField("height", T.IntegerType()),
        T.StructField("decode_failed", T.BooleanType()),  # empty/null payload
    ]
)


# ---------------------------------------------------------------------------
# Pure-numpy raster decode (no codec libraries): binary PPM/PGM + 24-bpp BMP
# ---------------------------------------------------------------------------


def _ppm_header(buf: bytes) -> tuple[tuple[int, int, int], int]:
    """Parse the (width, height, maxval) header of a binary P6/P5 file,
    honoring '#' comments; returns the values and the offset of the first
    pixel byte (exactly one whitespace byte after maxval, per spec)."""
    toks: list[int] = []
    i = 2  # past the magic
    n = len(buf)
    while len(toks) < 3:
        while i < n and buf[i : i + 1].isspace():
            i += 1
        if i < n and buf[i : i + 1] == b"#":
            while i < n and buf[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < n and not buf[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PPM header")
        toks.append(int(buf[i:j]))  # non-numeric token -> ValueError, as wanted
        i = j
    if i >= n:
        raise ValueError("truncated PPM header")
    return (toks[0], toks[1], toks[2]), i + 1  # skip the single separator byte


def _decode_ppm(buf: bytes) -> np.ndarray:
    magic = buf[:2]
    channels = {b"P6": 3, b"P5": 1}.get(magic)
    if channels is None:
        raise ValueError(f"not a binary PPM/PGM (magic {magic!r})")
    (w, h, maxval), pos = _ppm_header(buf)
    if w < 1 or h < 1:
        raise ValueError(f"bad PPM dimensions {w}x{h}")
    if not 0 < maxval < 256:
        raise ValueError(f"only 8-bit PPM supported (maxval {maxval})")
    need = w * h * channels
    if len(buf) - pos < need:
        raise ValueError("PPM pixel data truncated")
    arr = np.frombuffer(buf, np.uint8, count=need, offset=pos).reshape(h, w, channels)
    if channels == 1:
        arr = np.repeat(arr, 3, axis=2)  # grayscale -> RGB
    return arr


def _decode_bmp(buf: bytes) -> np.ndarray:
    if buf[:2] != b"BM" or len(buf) < 54:
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack_from("<I", buf, 10)
    (hdr_size,) = struct.unpack_from("<I", buf, 14)
    if hdr_size < 40:
        raise ValueError("BMP core-header variant unsupported")
    w, h = struct.unpack_from("<ii", buf, 18)
    _planes, bpp = struct.unpack_from("<HH", buf, 26)
    (compression,) = struct.unpack_from("<I", buf, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bpp uncompressed BMP (bpp={bpp}, comp={compression})")
    if w < 1 or h == 0:
        raise ValueError(f"bad BMP dimensions {w}x{h}")
    abs_h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows padded to 4-byte boundary
    if len(buf) - data_off < stride * abs_h:
        raise ValueError("BMP pixel data truncated")
    rows = np.frombuffer(buf, np.uint8, count=stride * abs_h, offset=data_off)
    rows = rows.reshape(abs_h, stride)[:, : w * 3].reshape(abs_h, w, 3)
    if h > 0:  # positive height = bottom-up storage
        rows = rows[::-1]
    return np.ascontiguousarray(rows[:, :, ::-1])  # BGR -> RGB


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filtering (spec 9.2): ``raw`` is the zlib
    output, one filter byte + ``stride`` data bytes per row. Returns the
    (h, stride) reconstructed byte matrix. Up/None rows vectorize; Sub/
    Average/Paeth carry a left-pixel dependency, so those rows walk in
    ``bpp``-wide vector steps (columns/bpp python iterations per row)."""
    raw = raw.reshape(h, stride + 1)
    filters = raw[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = raw[y, 1:].astype(np.int32)
        f = filters[y]
        if f == 0:  # None
            rec = cur
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub / Average / Paeth: left-dependent
            rec = np.zeros(stride, dtype=np.int32)
            for x0 in range(0, stride, bpp):
                sl = slice(x0, x0 + bpp)
                left = rec[x0 - bpp : x0] if x0 else np.zeros(bpp, dtype=np.int32)
                up = prev[sl]
                if f == 1:
                    pred = left
                elif f == 3:
                    pred = (left + up) >> 1
                else:  # Paeth
                    ul = (
                        prev[x0 - bpp : x0]
                        if x0
                        else np.zeros(bpp, dtype=np.int32)
                    )
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
                    )
                rec[sl] = (cur[sl] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out


def _decode_png(buf: bytes) -> np.ndarray:
    """Pure-stdlib PNG decode (zlib inflate + numpy unfilter): 8-bit
    greyscale (0), truecolor (2) and truecolor+alpha (6, alpha dropped),
    non-interlaced — the reference's native page-image format
    (/root/reference/src/pdf_extractor/extractor.py:28-29 emits PNG page
    bytes). No codec libraries: DEFLATE via stdlib zlib, filters 0-4."""
    import zlib

    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, n = 8, len(buf)
    idat = bytearray()
    w = h = None
    bit_depth = color_type = interlace = None
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("PNG chunk truncated")
        if ctype == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if w is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or interlace != 0:
        raise ValueError(
            f"only 8-bit non-interlaced PNG (depth={bit_depth}, "
            f"interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if w < 1 or h < 1:
        raise ValueError(f"bad PNG dimensions {w}x{h}")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = w * channels
    if raw.size != h * (stride + 1):
        raise ValueError("PNG pixel data truncated")
    arr = _png_unfilter(raw, h, stride, channels).reshape(h, w, channels)
    if channels == 1:
        arr = np.repeat(arr, 3, axis=2)
    elif channels == 4:
        arr = arr[:, :, :3]
    return np.ascontiguousarray(arr)


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """(H, W, 3) uint8 RGB -> truecolor 8-bit PNG bytes (round-trips
    through _decode_png). ``filter_type`` 0 (None) or 2 (Up) keep the
    encoder vectorized; CRCs via stdlib zlib.crc32."""
    import zlib

    if filter_type not in (0, 2):
        raise ValueError("encoder supports filter types 0 and 2 only")
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape[0], arr.shape[1]
    flat = arr.reshape(h, w * 3)
    if filter_type == 2:
        deltas = flat.astype(np.int16)
        deltas[1:] -= flat[:-1].astype(np.int16)
        body_rows = (deltas & 0xFF).astype(np.uint8)
    else:
        body_rows = flat
    scan = np.concatenate(
        [np.full((h, 1), filter_type, dtype=np.uint8), body_rows], axis=1
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(scan.tobytes(), 6)
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def decode_image(payload, mime: str | None = None) -> np.ndarray:
    """Decode an image payload to an (H, W, 3) uint8 RGB array. No-codec-
    library paths: binary PPM/PGM (P6/P5), 24-bpp uncompressed BMP, and
    8-bit non-interlaced PNG (stdlib zlib inflate + numpy unfilter — the
    reference's native page-image format). PIL, when importable, handles
    everything else (JPEG etc.); otherwise raises ValueError (callers treat
    that as 'fall back to byte features', never a crash)."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    buf = bytes(payload)
    if buf[:2] in (b"P6", b"P5"):
        return _decode_ppm(buf)
    if buf[:2] == b"BM":
        return _decode_bmp(buf)
    if buf[:8] == _PNG_SIG:
        return _decode_png(buf)
    try:  # import-guarded upgrade for compressed formats
        import io

        from PIL import Image
    except ImportError:
        raise ValueError(
            f"undecodable payload (magic {buf[:2]!r}; PIL not installed)"
        ) from None
    try:
        return np.asarray(Image.open(io.BytesIO(buf)).convert("RGB"))
    except Exception as e:  # PIL raises a zoo of types; normalize
        raise ValueError(f"PIL decode failed: {e}") from None


def encode_ppm(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> binary P6 bytes (round-trips through _decode_ppm)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def encode_bmp(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> 24-bpp bottom-up BMP bytes (round-trips
    through _decode_bmp, including the 4-byte row padding)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape[0], arr.shape[1]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    pixels = rows.tobytes()
    off = 14 + 40
    file_hdr = struct.pack("<2sIHHI", b"BM", off + len(pixels), 0, 0, off)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return file_hdr + info_hdr + pixels


def byte_features(buf: bytes) -> np.ndarray:
    """Fallback 'features' for undecodable payloads: L1-normalized 16-bin
    byte histogram (the round-2 stand-in, now only the fallback path)."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype(np.float32)
    return hist / max(arr.size, 1)


def decode_features(payloads: pd.Series) -> pd.DataFrame:
    """Per-payload decode + feature extraction over one Arrow batch: real
    pixel decode where the format allows (features = L1-normalized 16-bin
    histogram of decoded pixel values, width/height from the pixel array),
    byte-histogram fallback otherwise."""
    m = len(payloads)
    feats = np.zeros((m, FEATURE_DIM), dtype=np.float32)
    n_bytes = np.zeros(m, dtype=np.int64)
    failed = np.zeros(m, dtype=bool)
    decoded = np.zeros(m, dtype=bool)
    width = np.full(m, -1, dtype=np.int64)
    height = np.full(m, -1, dtype=np.int64)
    for i, buf in enumerate(payloads):
        if buf is None or len(buf) == 0:
            failed[i] = True
            continue
        buf = bytes(buf)
        n_bytes[i] = len(buf)
        try:
            img = decode_image(buf)
        except ValueError:
            feats[i] = byte_features(buf)
            continue
        decoded[i] = True
        height[i], width[i] = img.shape[0], img.shape[1]
        hist = np.bincount(
            img.reshape(-1) >> 4, minlength=FEATURE_DIM
        ).astype(np.float32)
        feats[i] = hist / max(img.size, 1)
    return pd.DataFrame(
        {
            "n_bytes": n_bytes,
            "features": [row for row in feats],
            "decoded": decoded,
            "width": pd.array(
                [None if w < 0 else int(w) for w in width], dtype="Int32"
            ),
            "height": pd.array(
                [None if h < 0 else int(h) for h in height], dtype="Int32"
            ),
            "decode_failed": failed,
        }
    )


def extract_media_features(media: DataFrame) -> DataFrame:
    """media table -> per-object feature rows, Arrow-batched."""

    def kernel(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            out = decode_features(pdf["payload"])
            out.insert(0, "kind", pdf["kind"].values)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out[[f.name for f in FEATURES_SCHEMA.fields]]

    pruned = media.select("media_id", "kind", "payload")
    return pruned.mapInPandas(kernel, schema=FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("decode_failed", T.BooleanType()),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def resize_images(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Image resize. Decodable payloads (PPM/PGM/BMP, or anything PIL can
    open when installed) take the REAL path: pixel decode -> deterministic
    nearest-neighbor resample to (width, height) via two gather indexes ->
    re-encode as binary P6. Undecodable payloads keep the byte-stream
    resample stand-in (length-grouped, one 2-D fancy-index per group) so the
    operator still emits a fixed-size payload for every non-empty object."""

    def kernel(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        n = width * height
        for pdf in batches:
            m = len(pdf)
            payloads = pdf["payload"].tolist()
            out_payload: list = [None] * m
            failed = np.zeros(m, dtype=bool)
            fallback = np.zeros(m, dtype=bool)
            for i, buf in enumerate(payloads):
                if buf is None or len(buf) == 0:
                    failed[i] = True
                    continue
                try:
                    img = decode_image(bytes(buf))
                except ValueError:
                    fallback[i] = True
                    continue
                # floor-sampled gather (matches the byte path's index math)
                yi = np.linspace(0, img.shape[0] - 1, height).astype(np.int64)
                xi = np.linspace(0, img.shape[1] - 1, width).astype(np.int64)
                out_payload[i] = encode_ppm(img[yi][:, xi])
            # byte-resample fallback, vectorized across ROWS grouped by
            # payload length (rows of one length share one gather index)
            lens = np.fromiter(
                (len(payloads[i]) if fallback[i] else 0 for i in range(m)),
                np.int64,
                m,
            )
            for length in np.unique(lens[lens > 0]):
                rows = np.nonzero(lens == length)[0]
                idx = np.linspace(0, length - 1, n).astype(np.int64)
                mat = np.frombuffer(
                    b"".join(payloads[i] for i in rows), dtype=np.uint8
                ).reshape(len(rows), length)
                resampled = mat[:, idx]
                for j, i in enumerate(rows):
                    out_payload[i] = resampled[j].tobytes()
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "width": np.full(m, width, dtype=np.int32),
                    "height": np.full(m, height, dtype=np.int32),
                    "payload": out_payload,
                    "decode_failed": failed,
                }
            )

    return media.select("media_id", "payload").mapInPandas(kernel, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4, frame_bytes: int = 64) -> DataFrame:
    """Video frame sampling plumbing (stub decode): emits ``n_frames``
    evenly-spaced byte windows per media object with synthetic timestamps —
    a 1->N row fan-out through mapInPandas, the same plan shape as a real
    ffmpeg-backed sampler."""

    def kernel(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf, dur in zip(pdf["media_id"], pdf["payload"], pdf["duration_ms"]):
                if buf is None or len(buf) < frame_bytes:
                    continue
                step = max((len(buf) - frame_bytes) // max(n_frames - 1, 1), 1)
                for i in range(n_frames):
                    off = min(i * step, len(buf) - frame_bytes)
                    ts = int(dur) * i // max(n_frames - 1, 1) if dur else 0
                    rows.append((mid, i, ts, bytes(buf[off:off + frame_bytes])))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_ts_ms", "frame"]
            )

    return media.select("media_id", "payload", "duration_ms").mapInPandas(
        kernel, schema=FRAMES_SCHEMA
    )


# ---------------------------------------------------------------------------
# Pure-numpy audio decode: RIFF/WAVE PCM (8-bit unsigned / 16-bit signed LE)
# ---------------------------------------------------------------------------


def decode_wav(payload) -> tuple[int, int, np.ndarray]:
    """Decode a RIFF/WAVE PCM payload -> (sample_rate, n_channels, samples)
    where samples is an (n_frames, n_channels) int32 array (8-bit unsigned
    recentred to signed, 16-bit passed through). Walks the chunk list
    properly (skips LIST/fact/unknown chunks); raises ValueError on
    non-PCM, truncation, or unsupported widths — callers treat that as
    'not audio', never a crash."""
    if payload is None or len(payload) < 44:
        raise ValueError("not a WAV (too short)")
    buf = bytes(payload)
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, n = 12, len(buf)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid = buf[pos : pos + 4]
        (csize,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            if csize < 16:
                raise ValueError("WAV fmt chunk truncated")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            if len(body) < csize:
                raise ValueError("WAV data chunk truncated")
            data = body
        pos += 8 + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, rate, _byterate, _align, bits = fmt
    if audio_fmt != 1:
        raise ValueError(f"only PCM WAV supported (fmt tag {audio_fmt})")
    if channels < 1 or rate < 1:
        raise ValueError(f"bad WAV header (channels={channels}, rate={rate})")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.int32)
    elif bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    else:
        raise ValueError(f"only 8/16-bit PCM supported (bits={bits})")
    frames = samples.size // channels
    return rate, channels, samples[: frames * channels].reshape(frames, channels)


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """(n_frames, n_channels) int16-range array + rate -> 16-bit PCM WAV
    bytes (round-trips through decode_wav)."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    arr = arr.astype("<i2")
    frames, channels = arr.shape
    data = arr.tobytes()
    byterate = rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, rate, byterate, channels * 2, 16)
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


AUDIO_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("amp_sum", T.LongType()),
    ]
)


def audio_decode_summary(media: DataFrame) -> DataFrame:
    """Per-object WAV decode proof: rate/channels/frames from the header,
    duration from frames/rate, and the exact sum of |sample| over all
    channels. With :func:`synth_audio_media_df`'s closed-form samples this
    is SQL-recomputable — the audio twin of :func:`media_decode_summary`."""

    def kernel(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rate, channels, samples = decode_wav(buf)
                except ValueError:
                    rows.append((int(mid), None, None, None, None, None))
                    continue
                frames = samples.shape[0]
                rows.append(
                    (
                        int(mid),
                        rate,
                        channels,
                        frames,
                        frames * 1000 // rate,
                        int(np.abs(samples.astype(np.int64)).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_channels", "n_frames",
                    "duration_ms", "amp_sum",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel, schema=AUDIO_SUMMARY_SCHEMA
    )


def synth_audio_samples(doc_id: int) -> tuple[int, np.ndarray]:
    """Closed-form deterministic test clip for ``doc_id``: rate
    8000*(1 + id%3), channels 1 + id%2, frames 400 + (id%5)*100,
    sample[i, c] = ((id*7 + i*13 + c*5) % 2001) - 1000. The SQL twin lives
    in the q_audio_decode oracle — keep them in lockstep."""
    rate = 8000 * (1 + doc_id % 3)
    channels = 1 + doc_id % 2
    frames = 400 + (doc_id % 5) * 100
    i = np.arange(frames).reshape(-1, 1)
    c = np.arange(channels).reshape(1, -1)
    return rate, ((doc_id * 7 + i * 13 + c * 5) % 2001) - 1000


def synth_audio_media_df(spark, documents: DataFrame) -> DataFrame:
    """Deterministic REAL-audio media table: each doc becomes a decodable
    16-bit PCM WAV clip with closed-form samples (executor-side generation,
    same shape as :func:`synth_image_media_df`)."""

    cols = [f.name for f in MEDIA_SCHEMA.fields]

    def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                rate, samples = synth_audio_samples(did)
                payload = encode_wav(samples, rate)
                dur = samples.shape[0] * 1000 // rate
                rows.append((did, "audio", "audio/wav", payload, 0, 0, dur))
            yield pd.DataFrame(rows, columns=cols)

    return documents.select("doc_id").mapInPandas(gen, schema=MEDIA_SCHEMA)


DECODE_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pix_sum", T.LongType()),
    ]
)


def media_decode_summary(media: DataFrame) -> DataFrame:
    """Per-object decode proof: container format from the magic bytes plus
    width/height and the exact sum of all decoded pixel values. Because
    :func:`synth_image_media_df` generates pixels from a closed-form formula,
    a SQL oracle can recompute every value here WITHOUT decoding — making the
    whole generate->encode->decode path hash-verifiable cross-engine."""

    def kernel(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                if buf is None or len(buf) < 2:
                    rows.append((int(mid), "other", None, None, None))
                    continue
                buf = bytes(buf)
                fmt = (
                    "ppm"
                    if buf[:2] in (b"P6", b"P5")
                    else "bmp"
                    if buf[:2] == b"BM"
                    else "png" if buf[:8] == _PNG_SIG else "other"
                )
                try:
                    img = decode_image(buf)
                except ValueError:
                    rows.append((int(mid), fmt, None, None, None))
                    continue
                rows.append(
                    (
                        int(mid),
                        fmt,
                        int(img.shape[1]),
                        int(img.shape[0]),
                        int(img.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "fmt", "width", "height", "pix_sum"]
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel, schema=DECODE_SUMMARY_SCHEMA
    )


def synth_image_pixels(doc_id: int) -> np.ndarray:
    """Closed-form deterministic test image for ``doc_id``: dimensions
    (8 + id % 9) x (8 + (id // 3) % 9), pixel[i, j, c] =
    (id*31 + i*7 + j*3 + c*11) % 256. The SQL twin of this formula lives in
    the q_media_decode oracle — keep them in lockstep."""
    w = 8 + doc_id % 9
    h = 8 + (doc_id // 3) % 9
    i = np.arange(h).reshape(-1, 1, 1)
    j = np.arange(w).reshape(1, -1, 1)
    c = np.arange(3).reshape(1, 1, -1)
    return ((doc_id * 31 + i * 7 + j * 3 + c * 11) % 256).astype(np.uint8)


def synth_image_media_df(spark, documents: DataFrame) -> DataFrame:
    """Deterministic REAL-image media table derived from the documents
    corpus: each doc becomes a decodable raster — binary P6 PPM for
    doc_id % 3 == 0, 24-bpp BMP for % 3 == 1, 8-bit truecolor PNG (Up-
    filtered, DEFLATE) for % 3 == 2 — so all three no-codec-library
    decoders are exercised by every downstream query. Generation is
    executor-side over mapInPandas (scales with partitions; nothing
    materializes on the driver)."""

    cols = [f.name for f in MEDIA_SCHEMA.fields]

    def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                arr = synth_image_pixels(did)
                if did % 3 == 0:
                    payload, mime = encode_ppm(arr), "image/x-portable-pixmap"
                elif did % 3 == 1:
                    payload, mime = encode_bmp(arr), "image/bmp"
                else:
                    payload, mime = encode_png(arr, filter_type=2), "image/png"
                rows.append(
                    (did, "image", mime, payload, arr.shape[1], arr.shape[0], 0)
                )
            yield pd.DataFrame(rows, columns=cols)

    return documents.select("doc_id").mapInPandas(gen, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Video: uncompressed concatenated-PPM container ("MPPM") + real frame sample
# ---------------------------------------------------------------------------


def decode_ppm_stream(payload) -> list[np.ndarray]:
    """Decode a clip stored as CONCATENATED binary PPM frames (the
    uncompressed video container this sandbox can realize without codec
    libraries — the production swap-in is av/ffmpeg behind the same
    signature). Walks the payload frame-by-frame via the PPM header;
    raises ValueError on a malformed boundary."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty clip payload")
    buf = bytes(payload)
    frames: list[np.ndarray] = []
    pos = 0
    while pos < len(buf):
        sub = buf[pos:]
        if sub[:2] != b"P6":
            raise ValueError(f"bad frame boundary at byte {pos}")
        (w, h, _maxval), data_off = _ppm_header(sub)
        need = data_off + w * h * 3
        if len(sub) < need:
            raise ValueError(f"truncated frame at byte {pos}")
        frames.append(_decode_ppm(sub[:need]))
        pos += need
    return frames


VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_idx", T.IntegerType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pix_sum", T.LongType()),
    ]
)


def video_frame_summary(media: DataFrame, n_sample: int = 3) -> DataFrame:
    """REAL frame sampling: decode the clip, pick ``n_sample`` evenly-spaced
    frames (floor-sampled linspace — same index math as resize), and report
    each sampled frame's dims + exact pixel sum. 1->N row fan-out through
    mapInPandas; with :func:`synth_video_media_df`'s closed-form pixels the
    output is SQL-recomputable (q_video_frames oracle)."""

    def kernel(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                try:
                    frames = decode_ppm_stream(buf)
                except ValueError:
                    continue
                m = min(n_sample, len(frames))
                idx = np.linspace(0, len(frames) - 1, m).astype(np.int64)
                for k, f in enumerate(idx):
                    img = frames[f]
                    rows.append(
                        (
                            int(mid),
                            k,
                            int(f),
                            len(frames),
                            int(img.shape[1]),
                            int(img.shape[0]),
                            # sum with an int64 accumulator — same exact
                            # integer as astype(int64).sum(), no full copy
                            int(img.sum(dtype=np.int64)),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_idx", "frame_idx", "n_frames",
                    "width", "height", "pix_sum",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel, schema=VIDEO_FRAMES_SCHEMA
    )


def synth_video_pixels(doc_id: int, frame: int) -> np.ndarray:
    """Closed-form frame ``frame`` of the test clip for ``doc_id``: the
    image formula plus a per-frame term — pixel[i, j, c] =
    (id*31 + frame*17 + i*7 + j*3 + c*11) % 256, dims as
    :func:`synth_image_pixels`. SQL twin: q_video_frames oracle."""
    w = 8 + doc_id % 9
    h = 8 + (doc_id // 3) % 9
    i = np.arange(h).reshape(-1, 1, 1)
    j = np.arange(w).reshape(1, -1, 1)
    c = np.arange(3).reshape(1, 1, -1)
    return ((doc_id * 31 + frame * 17 + i * 7 + j * 3 + c * 11) % 256).astype(
        np.uint8
    )


def synth_video_media_df(spark, documents: DataFrame) -> DataFrame:
    """Deterministic REAL-video media table: each doc becomes a clip of
    4 + id%5 concatenated P6 frames (closed-form pixels), duration 40 ms per
    frame (25 fps)."""

    cols = [f.name for f in MEDIA_SCHEMA.fields]

    def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n_frames = 4 + did % 5
                w = 8 + did % 9
                h = 8 + (did // 3) % 9
                # r7: all frames of the clip in ONE broadcasted modulo
                # (frame axis added to the synth_video_pixels formula) —
                # the per-frame arange/broadcast overhead dominated the
                # tiny 8-16px frames; pixel bytes are identical
                f = np.arange(n_frames).reshape(-1, 1, 1, 1)
                i = np.arange(h).reshape(1, -1, 1, 1)
                j = np.arange(w).reshape(1, 1, -1, 1)
                c = np.arange(3).reshape(1, 1, 1, -1)
                clip = (
                    (did * 31 + f * 17 + i * 7 + j * 3 + c * 11) % 256
                ).astype(np.uint8)
                hdr = b"P6\n%d %d\n255\n" % (w, h)
                payload = b"".join(
                    hdr + clip[k].tobytes() for k in range(n_frames)
                )
                rows.append(
                    (did, "video", "video/x-mppm", payload, w, h, n_frames * 40)
                )
            yield pd.DataFrame(rows, columns=cols)

    return documents.select("doc_id").mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_media_df(spark, documents: DataFrame, kind: str = "image") -> DataFrame:
    """Derive a deterministic fake media table from the documents corpus:
    payload bytes = utf-8 of the text (opaque to the pipeline)."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(64).alias("width").cast("int"),
        F.lit(64).alias("height").cast("int"),
        F.lit(0).cast("long").alias("duration_ms"),
    )
