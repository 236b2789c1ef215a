"""Deterministic image codecs for the synthetic corpus (pure numpy + zlib).

The container has no image libraries, so the fixture corpus uses three real,
self-contained codecs over uint8 RGB pixel arrays:

- ``bmp``  — genuine uncompressed 24-bit Windows BMP (readable by any tool).
- ``png``  — genuine minimal PNG (8-bit RGB, filter type 0, one IDAT),
             decodable by any PNG reader; our decoder handles exactly what
             our encoder emits.
- ``jpg``  — deterministic *simulated* lossy codec ("LJPG"): pixels are
             quantized to a fixed step then zlib-compressed in a tiny
             container. Decode(encode(x)) differs from x like a mild JPEG
             would, with PSNR >= 40 dB guaranteed by the quantization step
             (q=6 -> MSE <= q^2/12 = 3 -> PSNR >= 43 dB), matching the
             BASELINE.json per-row fidelity invariant. Real JPEG decode is
             out of scope for this container (no libjpeg); the Spark-side
             plumbing (binary column -> mapInPandas decode) is identical.

Unreadable payloads (truncated header / garbage) raise ``ValueError`` from
``decode``; the pipeline maps that to status='unreadable' — the analogue of
the reference's BrokenBlobInfo (Common/BlobInfo.cs:53-55,
OrdinaryDumpDeduplicator/OrdinaryDumpDeduplicator.cs:119-125).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

LJPG_MAGIC = b"LJPG"
LJPG_QUANT = 6  # quantization step -> PSNR ~ 43 dB vs source pixels
WAV_SR = 8000  # sample rate of every synthesized WAV payload


# ---------------------------------------------------------------- BMP (real)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode HxWx3 uint8 RGB as an uncompressed 24-bit BMP."""
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3
    image_size = row_size * h
    file_size = 54 + image_size
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", file_size, 0, 0, 54,
        40, w, h, 1, 24, 0, image_size, 2835, 2835, 0, 0,
    )
    # BMP stores bottom-up BGR rows padded to 4 bytes.
    bgr = pixels[::-1, :, ::-1]
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    return header + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    w = struct.unpack_from("<i", data, 18)[0]
    h = struct.unpack_from("<i", data, 22)[0]
    bpp = struct.unpack_from("<H", data, 28)[0]
    if bpp != 24 or w <= 0 or h <= 0:
        raise ValueError("unsupported BMP")
    row_size = (w * 3 + 3) & ~3
    need = offset + row_size * h
    if len(data) < need:
        raise ValueError("truncated BMP")
    rows = np.frombuffer(data, dtype=np.uint8, count=row_size * h, offset=offset)
    rows = rows.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    return rows[::-1, :, ::-1].copy()  # bottom-up BGR -> top-down RGB


# ---------------------------------------------------------------- PNG (real)


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal valid PNG: 8-bit RGB, no interlace, Sub filter (type 1) on
    every row — horizontal-delta residuals compress gradients/flat regions
    far better than filter 0 (measured ~5x smaller on the synthetic
    corpus), exactly as real encoders do."""
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    flat = pixels.reshape(h, w * 3)
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 1  # Sub filter
    raw[:, 1:4] = flat[:, :3]
    # Sub: residual = byte - byte_3_left (per RGB triplet), mod 256
    raw[:, 4:] = flat[:, 3:] - flat[:, :-3]
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    if len(data) < 8 or data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w, h, idat = 8, None, None, b""
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) < length:
            raise ValueError("truncated PNG")
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack_from(">IIBB", payload, 0)
            if depth != 8 or ctype != 2:
                raise ValueError("unsupported PNG")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("bad PNG")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    if raw.size != h * (1 + w * 3):
        raise ValueError("bad PNG payload size")
    rows = raw.reshape(h, 1 + w * 3)
    ftypes = rows[:, 0]
    if not np.all(np.isin(ftypes, (0, 1))):
        raise ValueError("unsupported PNG filter")
    data_rows = rows[:, 1:].copy()
    sub_rows = ftypes == 1
    if np.any(sub_rows):
        # un-Sub: cumulative sum over RGB triplets, mod 256. A uint8
        # accumulator wraps mod 256 natively — the whole un-filter runs in
        # the payload's own width (the former uint64 widening was 16x the
        # memory traffic for identical output).
        s = data_rows[sub_rows].reshape(-1, w, 3)
        data_rows[sub_rows] = np.cumsum(s, axis=1, dtype=np.uint8).reshape(
            -1, w * 3
        )
    return data_rows.reshape(h, w, 3)


# ------------------------------------------------- LJPG (simulated lossy)


def encode_ljpg(pixels: np.ndarray) -> bytes:
    """Deterministic lossy encode: quantize pixels to step LJPG_QUANT, zlib."""
    h, w, _ = pixels.shape
    q = np.clip(
        (pixels.astype(np.int32) + LJPG_QUANT // 2) // LJPG_QUANT * LJPG_QUANT,
        0,
        255,
    ).astype(np.uint8)
    header = LJPG_MAGIC + struct.pack("<HHB", w, h, LJPG_QUANT)
    return header + zlib.compress(q.tobytes(), 6)


def decode_ljpg(data: bytes) -> np.ndarray:
    if len(data) < 9 or data[:4] != LJPG_MAGIC:
        raise ValueError("not an LJPG")
    w, h, _quant = struct.unpack_from("<HHB", data, 4)
    raw = np.frombuffer(zlib.decompress(data[9:]), dtype=np.uint8)
    if raw.size != h * w * 3:
        raise ValueError("bad LJPG payload size")
    return raw.reshape(h, w, 3).copy()


# ------------------------------------------------------------- dispatcher

_ENCODERS = {"bmp": encode_bmp, "png": encode_png, "jpg": encode_ljpg}


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    return _ENCODERS[fmt](pixels)


def decode(data: bytes | None) -> np.ndarray:
    """Decode any supported payload; raise ValueError if unreadable.

    The ValueError contract holds for ANY malformed payload, including
    ones with a valid magic but a corrupt body — zlib/struct/numpy errors
    from the per-format decoders are normalized here so per-row callers
    (operators/features.py, operators/image_region_dedup.py) can mark
    the row unreadable instead of failing the whole task."""
    if data is None or len(data) == 0:
        raise ValueError("empty payload")
    head = bytes(data[:8])
    try:
        if head[:2] == b"BM":
            return decode_bmp(bytes(data))
        if head[:4] == b"\x89PNG":
            return decode_png(bytes(data))
        if head[:4] == LJPG_MAGIC:
            return decode_ljpg(bytes(data))
    except ValueError:
        raise
    except Exception as exc:  # zlib.error, struct.error, numpy reshape...
        raise ValueError(f"corrupt payload: {exc}") from exc
    raise ValueError("unknown format")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical arrays)."""
    if a.shape != b.shape:
        raise ValueError("shape mismatch")
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


# ------------------------------------------------- AVI, uncompressed (real)
#
# RIFF 'AVI ' with BI_RGB (biCompression=0) 24-bit DIB frames in '00db'
# chunks — the classic uncompressed-video AVI layout (public RIFF/AVI
# spec: 'hdrl' LIST holding avih + one 'vids'/'DIB ' stream, 'movi' LIST
# holding the frame chunks, every chunk word-aligned). Frame payloads use
# the same bottom-up/BGR/4-byte-padded row layout as BMP above. Real
# players open these files; no codec library is involved by design.


def encode_avi_rgb(frames: list, fps: int = 10) -> bytes:
    """Encode a list of identically-shaped HxWx3 uint8 RGB frames as an
    uncompressed 24-bit AVI."""
    if not frames:
        raise ValueError("no frames")
    h, w, _ = frames[0].shape
    row_size = (w * 3 + 3) & ~3
    frame_size = row_size * h

    def chunk(tag: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return tag + struct.pack("<I", len(payload)) + payload + pad

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, frame_size * fps, 0, 0x10,  # AVIF_HASINDEX off
        len(frames), 0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIiI4H",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, len(frames),
        frame_size, -1, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 2835, 2835, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_frames = []
    for f in frames:
        if f.shape != (h, w, 3):
            raise ValueError("frames must share one shape")
        bgr = f[::-1, :, ::-1]
        rows = np.zeros((h, row_size), dtype=np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        movi_frames.append(chunk(b"00db", rows.tobytes()))
    movi = lst(b"movi", b"".join(movi_frames))
    riff_payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_payload)) + riff_payload


def _riff_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_size) walking word-aligned
    RIFF chunks in data[start:end]."""
    pos = start
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            raise ValueError("truncated RIFF chunk")
        yield tag, body, size
        pos = body + size + (size & 1)


def decode_avi_rgb(data: bytes) -> list:
    """Decode an uncompressed 24-bit RGB AVI into a list of HxWx3 uint8
    frames. Only BI_RGB DIB streams are supported — compressed fourccs
    raise (that is what external codec libraries are for)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    w = h = None
    compression = 0
    payloads: list[tuple[int, int]] = []

    def walk(start: int, end: int) -> None:
        nonlocal w, h, compression
        for tag, body, size in _riff_chunks(data, start, end):
            if tag == b"LIST":
                walk(body + 4, body + size)  # skip the list-kind fourcc
            elif tag == b"avih" and size >= 40:
                w, h = struct.unpack_from("<II", data, body + 32)
            elif tag == b"strf" and size >= 20:
                compression = struct.unpack_from("<I", data, body + 16)[0]
            elif tag[2:4] in (b"db", b"dc") and size > 0:
                payloads.append((body, size))

    walk(12, len(data))
    if not w or not h:
        raise ValueError("AVI missing avih header")
    if compression != 0:
        raise ValueError(
            f"compressed AVI stream (biCompression={compression}); only "
            "BI_RGB uncompressed frames decode here"
        )
    row_size = (int(w) * 3 + 3) & ~3
    need = row_size * int(h)
    frames = []
    for body, size in payloads:
        if size < need:
            raise ValueError("truncated AVI frame")
        rows = np.frombuffer(data, dtype=np.uint8, count=need, offset=body)
        rows = rows.reshape(int(h), row_size)[:, : int(w) * 3]
        frames.append(rows.reshape(int(h), int(w), 3)[::-1, :, ::-1].copy())
    return frames


def encode_wav(x, sampwidth: int = 2) -> bytes:
    """Synthesize a PCM RIFF/WAVE payload at WAV_SR Hz from a float
    waveform in [-1, 1] with the stdlib writer (mono; 1/2/4-byte PCM) —
    the encode twin of operators/audio_dedup.decode_wav."""
    import io
    import wave as _wave

    x = np.clip(np.asarray(x, dtype=np.float64), -1.0, 1.0)
    if sampwidth == 1:
        pcm = np.round(x * 127 + 128).astype("u1")
    elif sampwidth == 2:
        pcm = np.round(x * 32767).astype("<i2")
    elif sampwidth == 4:
        pcm = np.round(x * 2147483647).astype("<i4")
    else:
        raise ValueError(f"unsupported sample width {sampwidth}")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(sampwidth)
        w.setframerate(WAV_SR)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()
