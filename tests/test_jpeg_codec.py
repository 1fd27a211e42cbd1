"""JPEG codec properties (operators/multimodal._make_jpeg_codec).

The encoder is deliberately DC-only (closed-form oracle arithmetic), but
the DECODER is a general baseline-sequential gray decoder — canonical
Huffman from the file's own DHT, FF00 unstuffing, (run,size) AC
run-length decode, zigzag dequantization, full integer IDCT — so the
tests drive it past the encoder's subset: hand-built streams with nonzero
AC coefficients and ZRL runs, checked against a float IDCT reference.
"""

from __future__ import annotations

import math
import random
import struct

import pytest

from wd2sql_spark.operators.multimodal import (
    JPEG_BH_MOD,
    JPEG_BLOCKS_W,
    JPEG_QDC,
    _make_jpeg_codec,
)

encode_jpeg, decode_jpeg = _make_jpeg_codec()


def _fq(v: int) -> int:
    s = v - 128
    a = (8 * abs(s) + JPEG_QDC // 2) // JPEG_QDC
    return a if s >= 0 else -a


def _recon(v: int) -> int:
    return max(0, min(255, 2 * _fq(v) + 128))


def test_roundtrip_blocks_exact():
    rng = random.Random(42)
    for _ in range(300):
        hb = rng.randint(1, JPEG_BH_MOD)
        vals = [rng.randrange(256) for _ in range(JPEG_BLOCKS_W * hb)]
        payload = encode_jpeg(vals, JPEG_BLOCKS_W, hb, b"src bytes")
        w, h, px = decode_jpeg(payload)
        assert (w, h) == (8 * JPEG_BLOCKS_W, 8 * hb)
        # every block reconstructs to its closed-form quantized value
        for blk, v in enumerate(vals):
            by, bx = divmod(blk, JPEG_BLOCKS_W)
            block = [
                px[(8 * by + r) * w + 8 * bx + c] for r in range(8) for c in range(8)
            ]
            assert set(block) == {_recon(v)}


def test_byte_stuffing_roundtrip():
    """Block sequences whose entropy stream contains a raw 0xFF byte
    (found by search, pinned here) must round-trip: the encoder stuffs
    FF→FF00 and the decoder unstuffs it."""
    for vals in ([154, 1, 253, 143, 218, 65], [126, 37, 24, 1, 253, 36]):
        hb = len(vals) // JPEG_BLOCKS_W
        payload = encode_jpeg(vals, JPEG_BLOCKS_W, hb, b"")
        ent = payload[payload.find(b"\xff\xda") + 10 : -2]
        assert b"\xff\x00" in ent, "fixture no longer exercises stuffing"
        _w, _h, px = decode_jpeg(payload)
        assert sum(px) == sum(64 * _recon(v) for v in vals)


def _patch_entropy(payload: bytes, bits: str) -> bytes:
    """Replace the entropy segment with a hand-built bit string (1-padded,
    FF-stuffed) — drives the decoder with streams the encoder never
    emits."""
    pad = (-len(bits)) % 8
    bits = bits + "1" * pad
    raw = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    stuffed = bytearray()
    for b in raw:
        stuffed.append(b)
        if b == 0xFF:
            stuffed.append(0x00)
    head = payload[: payload.find(b"\xff\xda") + 10]
    return head + bytes(stuffed) + b"\xff\xd9"


# Annex K luminance DC codes for the categories the AC tests need
_DC_CODE = {0: "00", 1: "010", 2: "011", 6: "1110"}
# Annex K luminance AC codes (category table): symbol → code
_AC_CODE = {
    0x00: "1010",  # EOB
    0x01: "00",  # run 0, size 1
    0x11: "1100",  # run 1, size 1
    0xF0: "11111111001",  # ZRL
    0x02: "01",  # run 0, size 2
}


def _float_idct(coefs: list[int]) -> list[int]:
    out = []
    for p in range(64):
        x, y = p % 8, p // 8
        acc = 0.0
        for k in range(64):
            if not coefs[k]:
                continue
            u, v = k % 8, k // 8
            cu = 1 / math.sqrt(2) if u == 0 else 1.0
            cv = 1 / math.sqrt(2) if v == 0 else 1.0
            acc += (
                0.25 * cu * cv * coefs[k]
                * math.cos((2 * x + 1) * u * math.pi / 16)
                * math.cos((2 * y + 1) * v * math.pi / 16)
            )
        out.append(max(0, min(255, round(acc) + 128)))
    return out


def test_ac_coefficients_decode_against_float_reference():
    """A hand-built stream with nonzero ACs: DC cat2 (+2), then AC(0,1)=1,
    AC after run-1 = +1, EOB. The integer IDCT must land within ±1 of the
    float reference on every pixel (and match exactly at these small
    magnitudes for most)."""
    base = encode_jpeg([128, 128], JPEG_BLOCKS_W, 1, b"")
    bits = (
        _DC_CODE[2] + "10"  # DC diff +2
        + _AC_CODE[0x01] + "1"  # zigzag 1: +1
        + _AC_CODE[0x11] + "1"  # skip 1, zigzag 3: +1
        + _AC_CODE[0x00]  # EOB
        + _DC_CODE[0] + _AC_CODE[0x00]  # second block: all zero
    )
    payload = _patch_entropy(base, bits)
    w, h, px = decode_jpeg(payload)
    zz = (0, 1, 8, 16)  # zigzag order: 0,1,8,16...
    coefs = [0] * 64
    coefs[0] = 2 * JPEG_QDC
    coefs[zz[1]] = 1 * JPEG_QDC
    coefs[zz[3]] = 1 * JPEG_QDC
    ref = _float_idct(coefs)
    got = [px[r * w + c] for r in range(8) for c in range(8)]
    assert max(abs(g - r) for g, r in zip(got, ref)) <= 1
    # second block decodes flat 128 with the DC predictor carried over
    blk2 = [px[r * w + 8 + c] for r in range(8) for c in range(8)]
    ref2 = _float_idct([2 * JPEG_QDC] + [0] * 63)
    assert max(abs(g - r) for g, r in zip(blk2, ref2)) <= 1


def test_zrl_run_decodes():
    """ZRL (run of 16 zero ACs) followed by a coefficient: exercises the
    run-length branch the encoder never takes."""
    base = encode_jpeg([128], 1, 1, b"")
    bits = (
        _DC_CODE[0]
        + _AC_CODE[0xF0]  # ZRL: 16 zeros (zigzag 1..16)
        + _AC_CODE[0x01] + "1"  # zigzag 17: +1
        + _AC_CODE[0x00]  # EOB
    )
    payload = _patch_entropy(base, bits)
    w, h, px = decode_jpeg(payload)
    zig17 = 19  # zigzag index 17 → natural position 19 (row 2, col 3)
    coefs = [0] * 64
    coefs[zig17] = JPEG_QDC
    ref = _float_idct(coefs)
    assert max(abs(g - r) for g, r in zip(px, ref)) <= 1


def test_marker_grammar_rejections():
    good = encode_jpeg([10, 250], JPEG_BLOCKS_W, 1, b"meta")
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG" + good)  # not a JPEG
    # corrupt the DHT symbol counts
    i = good.find(b"\xff\xc4")
    bad = bytearray(good)
    bad[i + 5] = 0xEE
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    # progressive SOF2 must be refused, not mis-decoded
    i = good.find(b"\xff\xc0")
    bad = bytearray(good)
    bad[i + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))


def test_com_segment_rides_and_size_varies():
    a = encode_jpeg([1, 2], JPEG_BLOCKS_W, 1, b"")
    b = encode_jpeg([1, 2], JPEG_BLOCKS_W, 1, b"x" * 40)
    assert len(b) == len(a) + 40
    assert decode_jpeg(a)[2] == decode_jpeg(b)[2]


def test_dc_predictor_chain():
    """DC coding is differential: a long monotone ramp round-trips only
    if the predictor chain is right in BOTH codec halves."""
    vals = list(range(0, 256, 43))[:6]
    payload = encode_jpeg(vals, JPEG_BLOCKS_W, 3, b"")
    _w, _h, px = decode_jpeg(payload)
    assert sum(px) == sum(64 * _recon(v) for v in vals)


def test_mixed_container_dispatch_drops_unknown():
    """The container dispatcher routes by magic bytes and silently drops
    unknown signatures (per-record tolerance) — the stage body run on one
    pandas batch, no Spark session."""
    import pandas as pd

    from wd2sql_spark.operators.multimodal import (
        _make_png_codec,
        mixed_container_stats_stage,
    )

    encode_png, _, _, _ = _make_png_codec()
    png = encode_png(bytes(range(64)), 8, 8, b"s")
    jpg = encode_jpeg([7, 200], JPEG_BLOCKS_W, 1, b"s")
    batch = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "content": [png, jpg, b"GIF89a not supported", b""]}
    )
    out = pd.concat(list(mixed_container_stats_stage()(iter([batch]))))
    got = {r["doc_id"]: r for r in out.to_dict("records")}
    assert set(got) == {1, 2}
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("png", 8, 8)
    assert got[1]["sum_px"] == sum(range(64))
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == ("jpeg", 16, 8)
    assert got[2]["sum_px"] == 64 * (_recon(7) + _recon(200))
