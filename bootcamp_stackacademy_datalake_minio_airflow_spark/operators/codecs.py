"""Pure-stdlib media codecs (extension).

The container has no image/audio libraries, but PNG and WAV are
decodable with nothing beyond ``zlib``/``struct``/``wave`` + numpy —
so for those two formats decoding is REAL, not stubbed: actual DEFLATE
inflation, actual PNG scanline defiltering (all five filter types),
actual PCM frame parsing. JPEG/MP4/etc. genuinely require codec
libraries; operators/multimodal.py's feature extractor stays an honest
stub for them.

Everything here is per-row CPU work executed inside Arrow-batched
mapInPandas workers (the registry's multimodal_png_roundtrip and
multimodal_wav_roundtrip queries) — the codecs themselves are
deliberately dependency-free and deterministic.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: PNG color type -> samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced PNG to an (H, W, C) uint8 array.

    Real decoding: chunk walk -> IDAT concatenation -> zlib inflate ->
    per-scanline defilter (None/Sub/Up/Average/Paeth per the PNG spec
    §9) -> palette expansion for color type 3. Filters None/Sub/Up are
    vectorized (Sub is a per-channel cumsum mod 256); Average/Paeth
    carry a data dependency on the previous pixel AND previous row, so
    they fall back to a per-pixel loop — correctness over speed for
    foreign files (our own encoder emits filter 0 only).

    Raises ValueError on a non-PNG and NotImplementedError on 16-bit
    or interlaced images (rare; spec-compliant to reject explicitly).
    """
    if not data or data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad magic)")
    pos = 8
    idat = bytearray()
    plte: np.ndarray | None = None
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(data):
        (ln,), typ = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        pos += 8
        chunk = data[pos : pos + ln]
        pos += ln + 4  # skip CRC
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
        elif typ == b"PLTE":
            plte = np.frombuffer(chunk, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit non-interlaced PNG supported (depth={depth}, "
            f"interlace={interlace})"
        )
    nch = _PNG_CHANNELS[ctype]
    stride = w * nch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    img = np.empty((h, stride), np.uint16)
    prev = np.zeros(stride, np.uint16)
    p = 0
    for y in range(h):
        f = raw[p]
        p += 1
        line = np.frombuffer(raw[p : p + stride], np.uint8).astype(np.uint16)
        p += stride
        if f == 0:  # None
            cur = line
        elif f == 1:  # Sub: per-channel prefix sum mod 256
            cur = (line.reshape(w, nch).cumsum(axis=0) & 0xFF).reshape(stride)
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 3:  # Average
            cur = np.empty(stride, np.uint16)
            for i in range(stride):
                a = cur[i - nch] if i >= nch else 0
                cur[i] = (line[i] + ((int(a) + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = np.empty(stride, np.uint16)
            for i in range(stride):
                a = int(cur[i - nch]) if i >= nch else 0
                b = int(prev[i])
                c = int(prev[i - nch]) if i >= nch else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        img[y] = cur
        prev = cur
    arr = img.astype(np.uint8).reshape(h, w, nch)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        arr = plte[arr[..., 0]]
    return arr


def encode_png(arr: np.ndarray) -> bytes:
    """Encode an (H, W) or (H, W, C) uint8 array as PNG (filter 0,
    one IDAT). C in {1: gray, 2: gray+alpha, 3: RGB, 4: RGBA}."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF/WAVE byte string to ``(samples, sample_rate)``
    where samples is (n_frames, n_channels) int32 PCM (8-bit unsigned
    recentered to signed; 16/32-bit passed through). Real parsing via
    the stdlib ``wave`` reader."""
    with wave.open(io.BytesIO(data), "rb") as wf:
        sr = wf.getframerate()
        nch = wf.getnchannels()
        sw = wf.getsampwidth()
        frames = wf.readframes(wf.getnframes())
    if sw == 1:
        arr = np.frombuffer(frames, np.uint8).astype(np.int32) - 128
    elif sw == 2:
        arr = np.frombuffer(frames, "<i2").astype(np.int32)
    elif sw == 4:
        arr = np.frombuffer(frames, "<i4").astype(np.int32)
    else:
        raise NotImplementedError(f"unsupported WAV sample width {sw}")
    return arr.reshape(-1, nch), sr


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode (n_frames, n_channels) int16 PCM to WAV bytes."""
    if samples.ndim == 1:
        samples = samples[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(samples.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()
