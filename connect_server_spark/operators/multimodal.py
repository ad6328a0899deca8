"""Multimodal-column plumbing: opaque binary payloads with typed metadata,
decoded / feature-extracted through Arrow-batched ``mapInPandas``.

Images/audio/video are carried as ``binary`` columns plus a metadata
struct (mime, byte length, digest). The *decode* step is REAL for
uncompressed formats — BMP (24/32 bpp), binary PPM, and PCM16 WAV are
pure struct parsing over numpy — AND for the compressed formats whose
codecs are pure algorithms the stdlib covers: PNG (zlib) and GIF (LZW).
Mimes needing a codec library this environment lacks (JPEG/MP3/…)
raise a clearly-marked ``NotImplementedError``; a deployment
wires Pillow/libvips/ffmpeg behind the same contract. Everything around
the decode — the schema contract, partition-preserving mapInPandas, Arrow
batch shape, deterministic features — is real and tested either way.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "attach_binary",
    "binary_metadata",
    "extract_binary_features",
    "encode_bmp",
    "decode_image",
    "synthesize_bmp_payloads",
    "extract_image_features",
    "resize_image_binary",
    "resize_binary",
    "sample_frames",
    "encode_wav",
    "decode_audio",
    "synthesize_wav_payloads",
    "extract_audio_features",
    "encode_gif",
    "decode_gif_frames",
    "synthesize_gif_payloads",
    "extract_gif_frame_features",
]

FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, byte_entropy_milli int, head_hex string"
)


def attach_binary(df: DataFrame, id_col: str, text_col: str, mime: str = "application/octet-stream") -> DataFrame:
    """Carrier for the binary contract: payload column + metadata struct."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        binary_metadata(payload, mime).alias("meta"),
    )


def binary_metadata(payload: Column, mime: str) -> Column:
    return F.struct(
        F.lit(mime).alias("mime"),
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("digest"),
    )


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as an uncompressed 24-bpp BMP
    (bottom-up, BGR, rows padded to 4 bytes) — the inverse of
    :func:`decode_image` for round-trip tests and the resize re-encode."""
    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    pad = (-(w * 3)) % 4
    bgr = arr[::-1, :, ::-1]  # bottom-up rows, BGR channel order
    if pad:
        rows = np.zeros((h, w * 3 + pad), dtype=np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        body = rows.tobytes()
    else:
        body = bgr.tobytes()
    pixel_offset = 14 + 40
    file_header = b"BM" + struct.pack(
        "<IHHI", pixel_offset + len(body), 0, 0, pixel_offset
    )
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_header + info_header + body


def _decode_bmp(b: bytes) -> np.ndarray:
    (pixel_offset,) = struct.unpack_from("<I", b, 10)
    w, h = struct.unpack_from("<ii", b, 18)
    (bpp,) = struct.unpack_from("<H", b, 28)
    (compression,) = struct.unpack_from("<I", b, 30)
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"BMP decode supports uncompressed 24/32 bpp only "
            f"(got bpp={bpp}, compression={compression})"
        )
    bottom_up, h = h > 0, abs(h)
    nch = bpp // 8
    row_bytes = (w * nch + 3) & ~3 if nch == 3 else w * 4
    data = np.frombuffer(b, np.uint8, count=row_bytes * h, offset=pixel_offset)
    rows = data.reshape(h, row_bytes)[:, : w * nch].reshape(h, w, nch)
    rgb = rows[:, :, :3][:, :, ::-1]  # BGR(A) → RGB
    if bottom_up:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


def _decode_ppm(b: bytes) -> np.ndarray:
    # header: P6 <w> <h> <maxval>, tokens separated by whitespace,
    # '#' comments allowed, one whitespace byte before pixel data
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(b[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise NotImplementedError(f"PPM maxval {maxval} != 255 unsupported")
    data = np.frombuffer(b, np.uint8, count=w * h * 3, offset=pos)
    return np.ascontiguousarray(data.reshape(h, w, 3))


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to an (H, W, 3) uint8 RGB array.

    REAL for BMP (24/32 bpp, 'BM' magic), binary PPM ('P6'), 8-bit
    non-interlaced PNG (gray/RGB/RGBA, all five scanline filters,
    CRC-verified — its compression is stdlib zlib), and GIF (pure LZW,
    interlace handled; first frame — see :func:`decode_gif_frames`).
    Formats whose codecs this environment lacks (JPEG/WebP/…) raise
    ``NotImplementedError``; a deployment wires Pillow/libvips behind
    the same bytes-in / array-out contract."""
    b = bytes(payload)
    if b[:2] == b"BM":
        return _decode_bmp(b)
    if b[:2] == b"P6":
        return _decode_ppm(b)
    if b[:8] == _PNG_MAGIC:
        return _decode_png(b)
    if b[:6] in _GIF_MAGICS:
        return _decode_gif(b)
    raise NotImplementedError(
        "BMP/PPM/PNG/GIF decode only without a codec library (PNG is REAL "
        "— stdlib zlib + chunk walk + unfiltering — and so is GIF: pure "
        "LZW; JPEG et al. need a codec this environment lacks); "
        f"got magic {b[:4]!r}"
    )


def extract_binary_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Computes deterministic per-payload features (byte count, Shannon byte
    entropy in milli-nats, first-4-bytes hex) in pandas — the stand-in for
    a decode→featurize stage. Partition-preserving: ``mapInPandas`` keeps
    data local, no shuffle."""

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                if n:
                    counts: dict[int, int] = {}
                    for byte in b:
                        counts[byte] = counts.get(byte, 0) + 1
                    ent = -sum(
                        (c / n) * math.log(c / n) for c in counts.values()
                    )
                else:
                    ent = 0.0
                rows.append(
                    (doc_id, n, int(round(ent * 1000)), b[:4].hex())
                )
            yield pd.DataFrame(
                rows, columns=[id_col, "n_bytes", "byte_entropy_milli", "head_hex"]
            )

    return df.select(id_col, "payload").mapInPandas(features, FEATURE_SCHEMA)


def synthesize_bmp_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic images as REAL BMP payloads: per id, an
    (8 + id%9) × (6 + id%7) RGB raster whose pixel (y, x, c) value is
    ``(31·id + 17·y + 7·x + 101·c) mod 256``, encoded through
    :func:`encode_bmp`. The image libs missing from this container only
    affect COMPRESSED formats — these payloads exercise the full real
    decode path end-to-end, reproducibly on any engine."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                w, h = 8 + i % 9, 6 + i % 7
                y, x, c = np.ogrid[:h, :w, :3]
                pix = ((31 * i + 17 * y + 7 * x + 101 * c) % 256).astype(
                    np.uint8
                )
                rows.append((i, encode_bmp(pix)))
            yield pd.DataFrame(rows, columns=[id_col, "payload"])

    return df.select(id_col).mapInPandas(synth, f"{id_col} long, payload binary")


IMAGE_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, "
    "mean_r_milli int, mean_g_milli int, mean_b_milli int"
)


def extract_image_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL decode → featurize: width, height, and per-channel pixel means
    (milli-units — integer, hash-stable) from :func:`decode_image`.
    Partition-preserving Arrow-batched ``mapInPandas``; payloads never
    shuffle."""

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                arr = decode_image(payload)
                h, w, _ = arr.shape
                means = arr.reshape(-1, 3).sum(axis=0, dtype=np.int64) * 1000
                means = np.rint(means / (h * w)).astype(int)
                rows.append((doc_id, w, h, means[0], means[1], means[2]))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "width", "height",
                    "mean_r_milli", "mean_g_milli", "mean_b_milli",
                ],
            )

    return df.select(id_col, "payload").mapInPandas(
        features, IMAGE_FEATURE_SCHEMA
    )


IMAGE_RESIZE_SCHEMA = (
    "doc_id long, src_width int, src_height int, thumb_width int, "
    "thumb_height int, thumb_bytes int, thumb_digest string"
)


def resize_image_binary(
    df: DataFrame, id_col: str = "doc_id", stride: int = 2
) -> DataFrame:
    """REAL image resize: decode → nearest-neighbor downsample (every
    ``stride``-th pixel in both axes) → re-encode BMP. The thumb digest
    pins the whole decode→resample→encode path byte-for-byte; golden
    values in ``tests/test_extractors.py``."""
    import hashlib

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                arr = decode_image(payload)
                h, w, _ = arr.shape
                thumb = arr[::stride, ::stride]
                tb = encode_bmp(thumb)
                rows.append(
                    (doc_id, w, h, thumb.shape[1], thumb.shape[0],
                     len(tb), hashlib.md5(tb).hexdigest())
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "src_width", "src_height", "thumb_width",
                    "thumb_height", "thumb_bytes", "thumb_digest",
                ],
            )

    return df.select(id_col, "payload").mapInPandas(resize, IMAGE_RESIZE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id long, src_bytes int, thumb_bytes int, stride int, thumb_digest string"
)


def resize_binary(df: DataFrame, id_col: str = "doc_id", stride: int = 4) -> DataFrame:
    """Image-resize plumbing: Arrow-batched ``mapInPandas`` that maps each
    payload to a strided downsample (every ``stride``-th byte) — the
    deterministic stand-in for decode→resize→re-encode. A deployment
    replaces the body's downsample with :func:`decode_image` + a real
    resampler; the engine-owned part (binary in → smaller binary out,
    partition-preserving, no shuffle) is what this exercises."""
    import hashlib

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                thumb = b[::stride]
                rows.append(
                    (doc_id, len(b), len(thumb), stride,
                     hashlib.md5(thumb).hexdigest())
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "src_bytes", "thumb_bytes", "stride",
                         "thumb_digest"],
            )

    return df.select(id_col, "payload").mapInPandas(resize, RESIZE_SCHEMA)


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Encode an (N,) or (N, channels) int16 array as a PCM16 RIFF/WAVE
    payload — the inverse of :func:`decode_audio` for round-trip tests
    and the synthesized fixtures. Pure struct packing, no codec."""
    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    body = arr.tobytes()  # interleaved frames: row-major (N, ch)
    block_align = ch * 2
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * block_align, block_align, 16
    )
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def _decode_wav(b: bytes) -> tuple[np.ndarray, int]:
    """Malformed payloads must stay inside the decode contract
    (``NotImplementedError``), never leak ``struct.error`` or
    ``ZeroDivisionError`` — one corrupt payload in a corpus would
    otherwise fail the task, its retries, and the whole query."""
    if b[8:12] != b"WAVE":
        raise NotImplementedError(f"RIFF payload is not WAVE: {b[8:12]!r}")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt ":
            if pos + 8 + 16 > len(b):
                raise NotImplementedError("WAV fmt chunk truncated")
            fmt = struct.unpack_from("<HHIIHH", b, pos + 8)
        elif cid == b"data":
            data = b[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise NotImplementedError("WAV missing fmt/data chunk")
    audio_format, ch, rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"WAV decode supports PCM16 only (format={audio_format}, bits={bits})"
        )
    if ch < 1 or rate < 1:
        raise NotImplementedError(
            f"WAV fmt chunk invalid (channels={ch}, rate={rate})"
        )
    usable = len(data) - len(data) % (ch * 2)
    arr = np.frombuffer(data, "<i2", count=usable // 2).reshape(-1, ch)
    return np.ascontiguousarray(arr), rate


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode an audio payload to ((N, channels) int16 samples, rate).

    REAL for uncompressed PCM16 WAV ('RIFF'/'WAVE' magic) — plain struct
    parsing over numpy, no codec library involved. Compressed formats
    (MP3/FLAC/OGG/…) raise ``NotImplementedError``: their codecs are not
    in this environment, and a deployment wires ffmpeg/soundfile here
    behind the same bytes-in / (array, rate)-out contract."""
    b = bytes(payload)
    if b[:4] == b"RIFF":
        return _decode_wav(b)
    raise NotImplementedError(
        f"only PCM16 WAV decode without a codec library; got magic {b[:4]!r}"
    )


def synthesize_wav_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic audio as REAL PCM16 WAV payloads: per id, a
    sawtooth of period ``50 + id%200`` samples, amplitude ``1000 +
    (id%30)·1000``, ``800 + id%800`` samples at 8 kHz, mono/stereo
    alternating by id (stereo right = left shifted half a period) — pure
    integer math, so payload bytes are reproducible on any engine.
    Exercises the full real decode path exactly like the BMP fixtures."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                p = 50 + i % 200
                amp = 1000 + (i % 30) * 1000
                n = 800 + i % 800
                t = np.arange(n, dtype=np.int64)
                left = ((t % p) * (2 * amp)) // max(p - 1, 1) - amp
                if i % 2:
                    right = (((t + p // 2) % p) * (2 * amp)) // max(p - 1, 1) - amp
                    samples = np.stack([left, right], axis=1)
                else:
                    samples = left
                rows.append(
                    (i, encode_wav(samples.astype(np.int16), sample_rate=8000))
                )
            yield pd.DataFrame(rows, columns=[id_col, "payload"])

    return df.select(id_col).mapInPandas(synth, f"{id_col} long, payload binary")


AUDIO_FEATURE_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, n_samples int, "
    "duration_ms int, rms_milli int, peak int"
)


def extract_audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL decode → featurize for audio: sample rate, channel count,
    sample count, duration, RMS level (milli-units of full scale — integer,
    hash-stable) and peak amplitude from :func:`decode_audio`.
    Partition-preserving Arrow-batched ``mapInPandas``; payloads never
    shuffle."""

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                arr, rate = decode_audio(payload)
                n, ch = arr.shape
                x = arr.astype(np.float64) / 32768.0
                rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
                peak = int(np.abs(arr).max()) if n else 0
                rows.append(
                    (
                        doc_id, rate, ch, n,
                        int(round(n * 1000 / rate)),
                        int(round(rms * 1000)), peak,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "sample_rate", "n_channels", "n_samples",
                    "duration_ms", "rms_milli", "peak",
                ],
            )

    return df.select(id_col, "payload").mapInPandas(
        features, AUDIO_FEATURE_SCHEMA
    )


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes int, frame_digest string"


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    n_frames: int = 8,
    every: int = 2,
) -> DataFrame:
    """Video frame-sampling plumbing: the payload is treated as
    ``n_frames`` equal-length frames; every ``every``-th frame is emitted
    as its own row (1 input row → N output rows — the UDTF shape).
    Deterministic: the frame digest is md5 of the byte slice, so the
    whole pipeline is oracle-checkable; a deployment swaps the slicing
    for a real demuxer behind the same (id, frame_idx, bytes) contract."""
    import hashlib

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                flen = len(b) // n_frames
                if flen == 0:
                    continue
                for i in range(0, n_frames, every):
                    chunk = b[i * flen:(i + 1) * flen]
                    rows.append(
                        (doc_id, i, len(chunk), hashlib.md5(chunk).hexdigest())
                    )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "frame_idx", "frame_bytes", "frame_digest"],
            )

    return df.select(id_col, "payload").mapInPandas(frames, FRAME_SCHEMA)


# ------------------------------------------------------------------ PNG
# Real decode with the stdlib only: PNG's compression is zlib (shipped
# with Python), so unlike JPEG there is no codec-library excuse — the
# chunk walk, inflate, and per-filter unfiltering are implemented here
# for 8-bit gray / RGB / RGBA, non-interlaced (the overwhelming majority
# of real PNGs; 16-bit and Adam7 stay honest NotImplementedError).

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(
    pixels: np.ndarray, filter_type: int = 0, alpha: bool = False
) -> bytes:
    """Encode (H, W, 3) uint8 RGB (or RGBA with ``alpha=True``, alpha
    filled 255) as an 8-bit non-interlaced PNG, applying ``filter_type``
    (0 none, 1 sub, 2 up, 3 average, 4 paeth) to every scanline — the
    encoder exists for round-trip tests, so it deliberately exercises
    each unfilter path."""
    import zlib

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    if alpha:
        arr = np.dstack([arr, np.full((h, w), 255, np.uint8)])
    nch = arr.shape[2]
    color_type = 6 if nch == 4 else 2
    raw = arr.astype(np.int16)
    out = bytearray()
    prev = np.zeros((w, nch), np.int16)
    for y in range(h):
        row = raw[y]
        left = np.vstack([np.zeros((1, nch), np.int16), row[:-1]])
        upleft = np.vstack([np.zeros((1, nch), np.int16), prev[:-1]])
        if filter_type == 0:
            filt = row
        elif filter_type == 1:
            filt = row - left
        elif filter_type == 2:
            filt = row - prev
        elif filter_type == 3:
            filt = row - (left + prev) // 2
        elif filter_type == 4:
            p = left + prev - upleft
            pa, pb, pc = (
                np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = row - pred
        else:
            raise ValueError(f"unknown filter {filter_type}")
        out.append(filter_type)
        out.extend((filt % 256).astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(b: bytes) -> np.ndarray:
    import zlib

    if b[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        # explicit truncation check: unpack_from past the end would
        # leak struct.error — the decode contract (like the WAV
        # decoder's) is ValueError/NotImplementedError only
        if pos + 12 + length > len(b):
            raise ValueError("PNG truncated mid-chunk")
        tag = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", b, pos + 8 + length)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            if len(data) != 13:
                raise ValueError("PNG IHDR wrong length")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color_type, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or color_type not in (0, 2, 6):
        raise NotImplementedError(
            "PNG decode supports 8-bit gray/RGB/RGBA non-interlaced only "
            f"(depth={depth}, color_type={color_type}, interlace={interlace})"
        )
    nch = {0: 1, 2: 3, 6: 4}[color_type]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:  # corrupt stream must not leak zlib.error
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from exc
    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT length does not match dimensions")
    img = np.zeros((h, w, nch), np.int16)
    prev = np.zeros((w, nch), np.int16)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).reshape(w, nch).astype(np.int16)
        if ft == 0:
            cur = row
        elif ft == 2:
            cur = (row + prev) % 256
        elif ft in (1, 3, 4):
            # left-dependent filters are sequential in x by definition
            cur = np.zeros_like(row)
            for x in range(w):
                left = cur[x - 1] if x else np.zeros(nch, np.int16)
                up = prev[x]
                upleft = prev[x - 1] if x else np.zeros(nch, np.int16)
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - upleft
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc),
                        left,
                        np.where(pb <= pc, up, upleft),
                    )
                cur[x] = (row[x] + pred) % 256
        else:
            raise ValueError(f"PNG unknown filter {ft} on row {y}")
        img[y] = cur
        prev = cur
    out = img.astype(np.uint8)
    if nch == 1:
        out = np.repeat(out, 3, axis=2)
    elif nch == 4:
        out = out[:, :, :3]  # alpha dropped: the contract is (H, W, 3)
    return np.ascontiguousarray(out)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Encode (H, W, 3) uint8 RGB as binary PPM (P6, maxval 255)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


# ------------------------------------------------------------------ GIF
# GIF's compression is LZW — a pure table-driven algorithm, no codec
# library involved — so like PNG it is REAL here: header + logical-
# screen walk, global/local color tables, sub-block reassembly,
# variable-width LZW (spec-correct width growth at 2^width, 12-bit cap
# with clear-code reset), and the four-pass interlace reorder. The
# honest NotImplementedError boundary is ANIMATION COMPOSITING:
# transparency and partial-rect frames blend against prior frames, and
# there is no correct (H, W, 3) answer for a frame in isolation — so
# every frame must be a full-screen opaque replacement. decode_image
# returns the first frame; decode_gif_frames returns all of them (the
# multi-frame carrier sample_frames strides over).

_GIF_MAGICS = (b"GIF87a", b"GIF89a")
_LZW_MAX_CODE = 1 << 12  # the spec's 12-bit ceiling


# The LZW root tables for each minimum code size the spec allows (2..8),
# built once at import.
_LZW_ENC_ROOTS = {
    mcs: {bytes([i]): i for i in range(1 << mcs)} for mcs in range(2, 9)
}
_LZW_DEC_ROOTS = {
    mcs: [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    for mcs in range(2, 9)
}


def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """GIF-flavoured LZW with LSB-first bit packing: real dictionary
    growth (the decoder's width-growth and table-overflow paths are
    exercised by round-trip, not just root codes), clear-code reset when
    the table hits 4096."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    bitbuf = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    root = _LZW_ENC_ROOTS[mcs]

    def fresh() -> tuple[dict[bytes, int], int, int]:
        # dict.copy of the prebuilt root beats rebuilding 2^mcs bytes
        # keys per frame (the per-frame decode cost was ~20% root-table
        # construction before the roots were prebuilt)
        return root.copy(), end + 1, mcs + 1

    table, next_code, width = fresh()
    emit(clear, width)
    prefix = b""
    for byte in indices:
        cand = prefix + bytes([byte])
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], width)
        # the decoder mirrors this counter per code READ (giflib's
        # RunningCode), so the two sides grow the code width at the
        # same stream position by construction
        table[cand] = next_code
        next_code += 1
        if next_code == _LZW_MAX_CODE:
            emit(clear, width)
            table, next_code, width = fresh()
        elif next_code > (1 << width):
            width += 1
        prefix = bytes([byte])
    if prefix:
        emit(table[prefix], width)
        # the decoder advances its slot counter for this final data code
        # too — mirror it, or the end code gets written one bit narrower
        # than the decoder reads it when the counter crosses 2^width here
        if next_code < _LZW_MAX_CODE:
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
    emit(end, width)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int, n_expected: int) -> bytes:
    """Decode a GIF LZW stream to exactly ``n_expected`` palette indices.
    Spec-correct variable width: the decoder's table entry count drives
    width growth at 2^width (capped at 12 bits; past 4096 the table
    freezes until a clear code — the "deferred clear" encoders emit)."""
    if not 2 <= mcs <= 8:
        raise ValueError(f"GIF LZW minimum code size {mcs} out of range")
    clear, end = 1 << mcs, (1 << mcs) + 1

    root = _LZW_DEC_ROOTS[mcs]

    def fresh() -> list[bytes]:
        return root.copy()

    table = fresh()
    width = mcs + 1
    # counts code SLOTS (giflib's RunningCode): one per data code read,
    # in lockstep with the encoder's per-emit assignment counter — the
    # actual table lags one entry behind (the KwKwK case), so width
    # growth keys off this counter, not len(table)
    next_code = end + 1
    out = bytearray()
    bitbuf = nbits = pos = 0
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated before end code")
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        if code == clear:
            table = fresh()
            width = mcs + 1
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW first code is not a root code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < _LZW_MAX_CODE:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < _LZW_MAX_CODE:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"GIF LZW code {code} beyond table")
        out.extend(entry)
        if len(out) > n_expected:
            raise ValueError("GIF LZW produced more pixels than the frame")
        if next_code < _LZW_MAX_CODE:
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) != n_expected:
        raise ValueError(
            f"GIF LZW produced {len(out)} of {n_expected} expected pixels"
        )
    return bytes(out)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> list[int]:
    return [y for start, step in _INTERLACE_PASSES for y in range(start, h, step)]


def encode_gif(
    frames: np.ndarray | list[np.ndarray], interlace: bool = False
) -> bytes:
    """Encode one (H, W, 3) uint8 RGB array — or a list of same-shape
    arrays, written as successive full-screen image descriptors — as a
    GIF89a with a shared global color table. Pure palette format: every
    distinct color across the frames must fit in 256 entries
    (ValueError otherwise); the encoder exists for round-trip tests, so
    ``interlace=True`` deliberately exercises the four-pass reorder."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    arrs = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w, _ = arrs[0].shape
    if any(a.shape != (h, w, 3) for a in arrs):
        raise ValueError("all GIF frames must share one (H, W, 3) shape")
    flat = np.concatenate([a.reshape(-1, 3) for a in arrs]).astype(np.uint32)
    # pack RGB into one uint32: 1-D np.unique is much faster than the
    # axis=0 structured sort, and sorts in the same lexicographic
    # (r, g, b) order, so the palette (and the encoded bytes) are
    # identical to the axis-based form
    packed32 = (flat[:, 0] << 16) | (flat[:, 1] << 8) | flat[:, 2]
    uniq, inverse = np.unique(packed32, return_inverse=True)
    palette = np.stack(
        [(uniq >> 16) & 255, (uniq >> 8) & 255, uniq & 255], axis=1
    ).astype(np.uint8)
    if len(palette) > 256:
        raise ValueError(
            f"GIF is a palette format: {len(palette)} distinct colors > 256"
        )
    gct_bits = max(1, int(len(palette) - 1).bit_length())
    gct = np.zeros((1 << gct_bits, 3), np.uint8)
    gct[: len(palette)] = palette
    mcs = max(2, gct_bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (gct_bits - 1), 0, 0)
    out += gct.tobytes()
    per_frame = h * w
    for i, _arr in enumerate(arrs):
        idx = inverse[i * per_frame : (i + 1) * per_frame].astype(np.uint8)
        if interlace:
            idx = idx.reshape(h, w)[_interlace_order(h)].reshape(-1)
        out += struct.pack(
            "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0
        )
        out.append(mcs)
        lzw = _lzw_encode(idx.tobytes(), mcs)
        for off in range(0, len(lzw), 255):
            block = lzw[off : off + 255]
            out.append(len(block))
            out += block
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def decode_gif_frames(payload: bytes) -> list[np.ndarray]:
    """Decode every frame of a GIF payload to (H, W, 3) uint8 RGB.

    REAL decode (pure LZW + palette mapping, interlace handled). The
    contract rejects what cannot be answered as standalone RGB frames:
    transparency and partial-rect frames composite against prior frames,
    so both stay honest ``NotImplementedError`` (a deployment wires a
    compositing decoder behind the same bytes-in / frames-out shape).
    Malformed payloads raise ValueError — never struct.error."""
    b = bytes(payload)
    if b[:6] not in _GIF_MAGICS:
        raise ValueError(f"not a GIF payload (magic {b[:6]!r})")
    if len(b) < 13:
        raise ValueError("GIF truncated in logical screen descriptor")
    sw, sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(b):
            raise ValueError("GIF truncated in global color table")
        gct = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n

    def skip_subblocks(p: int) -> int:
        while True:
            if p >= len(b):
                raise ValueError("GIF truncated in sub-blocks")
            size = b[p]
            p += 1 + size
            if size == 0:
                return p

    frames: list[np.ndarray] = []
    while True:
        if pos >= len(b):
            raise ValueError("GIF truncated before trailer")
        block = b[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(b):
                raise ValueError("GIF truncated in extension label")
            label = b[pos]
            pos += 1
            if label == 0xF9 and pos + 2 <= len(b) and b[pos] >= 4:
                if b[pos + 1] & 0x01:
                    raise NotImplementedError(
                        "GIF transparency composites against prior frames; "
                        "standalone RGB decode is only defined for opaque "
                        "full-screen frames"
                    )
            pos = skip_subblocks(pos)
            continue
        if block != 0x2C:
            raise ValueError(f"GIF unknown block introducer 0x{block:02x}")
        if pos + 9 > len(b):
            raise ValueError("GIF truncated in image descriptor")
        left, top, fw, fh, fpacked = struct.unpack_from("<HHHHB", b, pos)
        pos += 9
        if (left, top, fw, fh) != (0, 0, sw, sh):
            raise NotImplementedError(
                "GIF partial-rect frames composite against prior frames; "
                f"got frame {fw}x{fh} at ({left},{top}) on a {sw}x{sh} screen"
            )
        pal = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 0x07)
            if pos + 3 * n > len(b):
                raise ValueError("GIF truncated in local color table")
            pal = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF frame has neither local nor global palette")
        if pos >= len(b):
            raise ValueError("GIF truncated before LZW minimum code size")
        mcs = b[pos]
        pos += 1
        chunks = bytearray()
        while True:
            if pos >= len(b):
                raise ValueError("GIF truncated in image data sub-blocks")
            size = b[pos]
            pos += 1
            if size == 0:
                break
            if pos + size > len(b):
                raise ValueError("GIF truncated mid image data sub-block")
            chunks += b[pos : pos + size]
            pos += size
        idx = np.frombuffer(
            _lzw_decode(bytes(chunks), mcs, fh * fw), np.uint8
        )
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("GIF pixel index beyond palette")
        rgb = pal[idx].reshape(fh, fw, 3)
        if fpacked & 0x40:  # interlaced: rows arrive in four passes
            order = np.asarray(_interlace_order(fh))
            deinterlaced = np.empty_like(rgb)
            deinterlaced[order] = rgb
            rgb = deinterlaced
        frames.append(np.ascontiguousarray(rgb))
    if not frames:
        raise ValueError("GIF contains no image data")
    return frames


def _decode_gif(b: bytes) -> np.ndarray:
    return decode_gif_frames(b)[0]


def _synth_frame(i: int, k: int) -> np.ndarray:
    """Frame ``k`` of id ``i``'s synthetic clip: the shared raster shape
    with a per-frame phase shift. Every pixel's RGB triple is a pure
    function of one mod-256 base value, so a whole clip never exceeds
    256 distinct colors — multi-frame GIF encoding always fits."""
    w, h = 8 + i % 9, 6 + i % 7
    y, x, c = np.ogrid[:h, :w, :3]
    return ((31 * i + 13 * k + 17 * y + 7 * x + 101 * c) % 256).astype(
        np.uint8
    )


def synthesize_gif_payloads(
    df: DataFrame, id_col: str = "doc_id", n_frames: int = 6
) -> DataFrame:
    """Deterministic synthetic CLIPS as real animated GIFs: per id,
    ``n_frames`` phase-shifted rasters encoded through
    :func:`encode_gif` (interlaced for odd ids) — the multi-frame
    carrier for the real-decode frame-sampling leg."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                frames = [_synth_frame(i, k) for k in range(n_frames)]
                rows.append(
                    (i, encode_gif(frames, interlace=bool(i % 2)))
                )
            yield pd.DataFrame(rows, columns=[id_col, "payload"])

    return df.select(id_col).mapInPandas(synth, f"{id_col} long, payload binary")


GIF_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, "
    "mean_r_milli int, mean_g_milli int, mean_b_milli int"
)


def extract_gif_frame_features(
    df: DataFrame, id_col: str = "doc_id", every: int = 2
) -> DataFrame:
    """REAL frame sampling: decode every frame of an animated GIF
    payload (pure-LZW :func:`decode_gif_frames`), emit every
    ``every``-th frame's dimensions + per-channel means as its own row
    (1 input row → N output rows — the UDTF shape the byte-slicing
    `sample_frames` fakes, now over actually-decoded pixels).
    Partition-preserving Arrow-batched ``mapInPandas``; payloads never
    shuffle."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                frames = decode_gif_frames(bytes(payload))
                for k in range(0, len(frames), every):
                    arr = frames[k]
                    h, w, _ = arr.shape
                    means = arr.reshape(-1, 3).sum(
                        axis=0, dtype=np.int64
                    ) * 1000
                    means = np.rint(means / (h * w)).astype(int)
                    rows.append(
                        (doc_id, k, w, h, means[0], means[1], means[2])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "frame_idx", "width", "height",
                    "mean_r_milli", "mean_g_milli", "mean_b_milli",
                ],
            )

    return df.select(id_col, "payload").mapInPandas(feats, GIF_FRAME_SCHEMA)


def _synth_raster(i: int) -> np.ndarray:
    """The shared deterministic test raster: (8 + i%9) × (6 + i%7) RGB
    with pixel (y, x, c) = (31·i + 17·y + 7·x + 101·c) mod 256."""
    w, h = 8 + i % 9, 6 + i % 7
    y, x, c = np.ogrid[:h, :w, :3]
    return ((31 * i + 17 * y + 7 * x + 101 * c) % 256).astype(np.uint8)


def synthesize_image_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The format-diverse twin of :func:`synthesize_bmp_payloads`: the
    SAME deterministic raster per id, but encoded as BMP, PNG (cycling
    through all five scanline filters), PPM, or GIF (interlaced for odd
    ids — a raster never exceeds 192 pixels, so its palette always
    fits) by ``id % 4`` — so the decode DISPATCH (magic sniffing + four
    real decoders, PNG's zlib inflate and GIF's LZW included) runs
    inside the Arrow-batched plan, not just in unit tests. Feature
    output is format-invariant by construction:
    features(synthesize_image_payloads(df)) ≡
    features(synthesize_bmp_payloads(df)) (pytest-pinned)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                pix = _synth_raster(i)
                if i % 4 == 0:
                    payload = encode_bmp(pix)
                elif i % 4 == 1:
                    payload = encode_png(pix, filter_type=i % 5)
                elif i % 4 == 2:
                    payload = encode_ppm(pix)
                else:
                    payload = encode_gif(pix, interlace=bool(i % 2))
                rows.append((i, payload))
            yield pd.DataFrame(rows, columns=[id_col, "payload"])

    return df.select(id_col).mapInPandas(synth, f"{id_col} long, payload binary")
