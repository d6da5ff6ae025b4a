"""Pure-stdlib PNG/WAV codec tests.

The PNG decoder is validated two ways: encode->decode round trips
(filter 0), and against hand-FILTERED bitstreams for every filter
type — the test applies the spec's forward filter (PNG spec §9) to a
known image and the decoder must invert it exactly.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.codecs import (
    PNG_MAGIC,
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)


def _rng_img(h, w, c, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)


@pytest.mark.parametrize("c", [1, 2, 3, 4])
def test_png_roundtrip_all_channel_counts(c):
    img = _rng_img(13, 9, c)
    assert np.array_equal(decode_png(encode_png(img)), img)


def _forward_filter(img: np.ndarray, ftype: int) -> bytes:
    """Spec §9 forward filter (what an encoder does) — independent of
    the decoder's inverse."""
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride).astype(int)
    out = bytearray()
    prev = np.zeros(stride, dtype=int)
    for y in range(h):
        cur = flat[y]
        line = np.empty(stride, dtype=int)
        for i in range(stride):
            a = cur[i - c] if i >= c else 0
            b = prev[i]
            cc = prev[i - c] if i >= c else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            line[i] = (cur[i] - pred) & 0xFF
        out.append(ftype)
        out += bytes(line.astype(np.uint8))
        prev = cur
    return bytes(out)


def _png_with_filtered_stream(img: np.ndarray, ftype: int) -> bytes:
    h, w, c = img.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = _forward_filter(img, ftype)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_defilter_inverts_every_spec_filter(ftype):
    img = _rng_img(7, 5, 3, seed=ftype + 1)
    data = _png_with_filtered_stream(img, ftype)
    assert np.array_equal(decode_png(data), img)


def test_png_palette_expansion():
    # color type 3: indices into a PLTE table
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    idx = np.array([[0, 1], [2, 0]], np.uint8)

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = b"\x00" + idx[0].tobytes() + b"\x00" + idx[1].tobytes()
    data = (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte.tobytes())
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = decode_png(data)
    assert np.array_equal(out, plte[idx])


def test_png_rejects_garbage_and_unsupported():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all....")
    with pytest.raises(ValueError):
        decode_png(PNG_MAGIC + b"\x00" * 24)  # valid magic, no IHDR
    img = _rng_img(2, 2, 1)
    data = bytearray(encode_png(img))
    # corrupt IHDR bit depth 8 -> 16 (offset: 8 magic + 8 hdr + 8 w/h)
    data[8 + 8 + 8] = 16
    with pytest.raises(NotImplementedError):
        decode_png(bytes(data))


def test_wav_roundtrip_and_features():
    sr = 8000
    t = np.arange(sr)  # 1 second
    tone = (np.sin(2 * np.pi * 440 * t / sr) * 10000).astype(np.int16)
    stereo = np.stack([tone, -tone], axis=1)
    data = encode_wav(stereo, sr)
    samples, rate = decode_wav(data)
    assert rate == sr and samples.shape == (sr, 2)
    assert np.array_equal(samples, stereo.astype(np.int32))


def test_fake_feature_rounding_matches_sql_round_exactly():
    """The stub extractor's per-lane rounding must bit-match SQL
    ROUND(x, 6) — Python round() is half-even and split the
    multimodal_features hash the first time a lane landed on a dyadic
    boundary (sf0.1 sweep, 17/128). Sweep boundary dyadics and random
    byte-fold ratios through DuckDB ROUND and compare."""
    import duckdb

    from bootcamp_stackacademy_datalake_minio_airflow_spark.engine import round_half_away
    from bootcamp_stackacademy_datalake_minio_airflow_spark.operators.multimodal import (
        _fake_features,
    )

    cases = [k / 128 for k in range(1, 128)]  # all 7-bit dyadics in (0,1)
    cases += [k / 1024 for k in range(1, 1024, 37)]
    cases += [a / t for a in (17, 99, 123, 255) for t in (7, 13, 997, 1009)]
    # negative halves (ADVICE r9 #2): SQL rounds -0.1328125 AWAY from
    # zero to -0.132813; the old floor-based helper rounded toward
    # zero there. Sweep the mirrored dyadics so a future caller with
    # signed input can't silently reintroduce the split.
    cases += [-q for q in cases] + [0.0, -0.0]
    got = [round_half_away(q, 1e6) for q in cases]
    want = [
        r[0]
        for r in duckdb.sql(
            "SELECT round(q, 6) FROM (SELECT unnest($1::DOUBLE[]) AS q)",
            params=[cases],
        ).fetchall()
    ]
    assert got == want
    # equality treats 0.0 == -0.0, so pin the SIGN too: SQL ROUND
    # preserves -0.0 and rounds tiny negatives to -0.0, and a hash
    # that formats floats splits on "0.0" vs "-0.0" (r10 self-review:
    # the old q < 0 branch returned +0.0 for q = -0.0)
    import math

    assert [math.copysign(1.0, g) for g in got] == [
        math.copysign(1.0, w) for w in want
    ]
    assert math.copysign(1.0, round_half_away(-0.0, 1e6)) == -1.0
    assert math.copysign(1.0, round_half_away(-1e-9, 1e6)) == -1.0
    # end-to-end: a byte payload whose fold hits the observed boundary
    feats = _fake_features(bytes([17, 111]), dim=2)
    assert sum(f >= 0 for f in feats) == 2 and abs(sum(feats) - 1.0) < 1e-6
