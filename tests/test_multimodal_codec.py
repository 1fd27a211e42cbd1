"""The multimodal image path runs a REAL codec (VERDICT r4 task #3).

These tests pin the claims the oracles cannot: the payloads are genuine
PNG files (magic, CRC-checked chunks, a zlib stream an ordinary inflater
accepts), the decoder actually exercises the codec path (corrupt bytes
are rejected, compressed streams and all five scanline filters decode),
and the aHash the pipeline computes is re-derivable from the raw payload
bytes at the offsets the stored-block layout dictates — i.e. the pixels
live in the file exactly where the format says.
"""

from __future__ import annotations

import os
import struct
import zlib

import pandas as pd
import pytest

from wd2sql_spark.operators import multimodal as M

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs():
    """The first 40 fixture documents as a pandas frame (no Spark)."""
    path = os.path.join(SF, "documents.parquet")
    return pd.read_parquet(path, columns=["doc_id", "text", "source"]).head(40)


def _build_all(build, docs) -> dict[int, bytes]:
    """Run a row-level payload builder over every doc, as the synth step
    of ``fused_codec_pipeline`` does."""
    return {
        int(d): build(int(d), t.encode("utf-8"), s)
        for d, t, s in zip(docs["doc_id"], docs["text"], docs["source"])
    }


def _run_stage(stage, payloads: dict[int, bytes]) -> pd.DataFrame:
    """Run a stage body over ONE pandas batch of (doc_id, content)."""
    pdf = pd.DataFrame({"doc_id": list(payloads), "content": list(payloads.values())})
    return pd.concat(list(stage(iter([pdf]))), ignore_index=True)


@pytest.fixture(scope="module")
def payloads(docs):
    return _build_all(M.png_builder(1), docs)


def test_payloads_are_real_pngs(docs, payloads):
    """Magic bytes + independent decode + size arithmetic: total =
    84 + len(source) + 9·h with h = 8 + doc_id % 5."""
    _, decode_png, _, _ = M._make_png_codec()
    meta = {
        int(d): (t, s) for d, t, s in zip(docs["doc_id"], docs["text"], docs["source"])
    }
    checked = 0
    for doc_id, payload in payloads.items():
        text, source = meta[doc_id]
        if not text.encode("utf-8"):
            assert payload == b""
            continue
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        h = M.PNG_H_BASE + doc_id % M.PNG_H_MOD
        assert len(payload) == 84 + len(source.encode("utf-8")) + 9 * h
        w, hh, ch, pixels, _ct = decode_png(payload)
        assert (w, hh, ch) == (M.PNG_W, h, 1)
        assert len(pixels) == M.PNG_W * h
        checked += 1
    assert checked > 0


def test_decoder_rejects_corruption(payloads):
    """A real codec path must FAIL on tampered bytes: flip a bit inside
    IHDR (CRC mismatch) and inside the zlib stream (inflate/adler error).
    The decode stages drop such rows instead of killing the job
    (test_decode_stage_drops_bad_payloads)."""
    _, decode_png, _, _ = M._make_png_codec()
    payload = next(p for p in payloads.values() if p)
    # corrupt one IHDR data byte → chunk CRC check must fire
    bad_crc = bytearray(payload)
    bad_crc[16] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad_crc))
    # corrupt the zlib stored-block payload AND fix the chunk CRC so only
    # the adler32 inside the zlib stream can catch it
    import binascii

    idat_at = payload.index(b"IDAT") - 4
    (ln,) = struct.unpack(">I", payload[idat_at : idat_at + 4])
    tampered = bytearray(payload)
    tampered[idat_at + 8 + 10] ^= 0x01  # a pixel byte inside the stored block
    data = bytes(tampered[idat_at + 4 : idat_at + 8 + ln])
    crc = binascii.crc32(data) & 0xFFFFFFFF
    tampered[idat_at + 8 + ln : idat_at + 12 + ln] = struct.pack(">I", crc)
    with pytest.raises(Exception):
        decode_png(bytes(tampered))
    # truncated file
    with pytest.raises(Exception):
        decode_png(payload[: len(payload) // 2])


_TEXT = bytes(range(32, 127)) * 3


def _bad_crc_png() -> bytes:
    bad = bytearray(M.png_builder(1)(0, _TEXT, "s"))
    bad[16] ^= 0xFF  # an IHDR data byte: the chunk CRC check fires
    return bytes(bad)


# stage body, a builder for its valid payload (doc_id → bytes), payloads
# specific to the stage that must drop too
_DECODE_STAGES = {
    "decode_images_stage": (
        M.decode_images_stage,
        lambda d: M.png_builder(3)(d, _TEXT, "s"),
        [_bad_crc_png(), M.jpeg_builder()(1, _TEXT, "s")],
    ),
    "phash_stage": (
        M.phash_stage,
        lambda d: M.png_builder(3)(d, _TEXT, "s"),
        [_bad_crc_png(), M.jpeg_builder()(1, _TEXT, "s")],
    ),
    "jpeg_stats_stage": (
        M.jpeg_stats_stage,
        lambda d: M.jpeg_builder()(d, _TEXT, "s"),
        [M.png_builder(1)(0, _TEXT, "s")],
    ),
    "mixed_container_stats_stage": (
        M.mixed_container_stats_stage,
        lambda d: M.mixed_container_builder()(d, _TEXT, "s"),
        [_bad_crc_png()],
    ),
    "demux_stage": (
        M.demux_stage,
        lambda d: M.avi_builder()(d, _TEXT, "s"),
        [M.jpeg_builder()(1, _TEXT, "s")],
    ),
}


@pytest.mark.parametrize("name", sorted(_DECODE_STAGES))
@pytest.mark.parametrize("valid_id", [3, 4, 5])
def test_decode_stage_drops_bad_payloads(name, valid_id):
    """Per-record tolerance, the ETL's rule, in every decode stage body:
    one pandas batch holding a valid payload among empty, truncated,
    wrong-magic and stage-specific corrupt ones yields rows for the valid
    payload only — nothing raises, no Spark session involved."""
    stage, build, extra = _DECODE_STAGES[name]
    valid = build(valid_id)
    bad = [b"", valid[: len(valid) // 2], b"GIF89a not supported", *extra]
    batch = {100 + i: p for i, p in enumerate(bad)}
    batch[valid_id] = valid
    out = _run_stage(stage(), batch)
    assert len(out) > 0
    assert set(out["doc_id"]) == {valid_id}


def test_decoder_handles_compressed_and_filtered_pngs():
    """The decoder is not married to the fixture's stored-block layout:
    a PNG whose IDAT is REALLY deflate-compressed (zlib level 9) and
    whose rows use every filter type 0-4 must reconstruct the same
    pixels. This is the 'ran a real codec path' assertion — the filters
    and inflate are computed, not assumed."""
    import binascii

    _, decode_png, _, _ = M._make_png_codec()
    w, h = 8, 5
    pixels = bytes((13 * i + 7) % 256 for i in range(w * h))

    def flt(row: bytes, prev: bytes, ftype: int) -> bytes:
        out = bytearray()
        for c in range(w):
            a = row[c - 1] if c else 0
            b = prev[c]
            cc = prev[c - 1] if c else 0
            if ftype == 0:
                v = row[c]
            elif ftype == 1:
                v = (row[c] - a) & 0xFF
            elif ftype == 2:
                v = (row[c] - b) & 0xFF
            elif ftype == 3:
                v = (row[c] - (a + b) // 2) & 0xFF
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                v = (row[c] - pr) & 0xFF
            out.append(v)
        return bytes(out)

    raw = b""
    prev = bytes(w)
    for r in range(h):
        row = pixels[r * w : (r + 1) * w]
        raw += bytes([r]) + flt(row, prev, r)  # filter type = row index 0..4
        prev = row

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )
    gw, gh, gch, got, _ct = decode_png(png)
    assert (gw, gh, gch) == (w, h, 1)
    assert got == pixels


def test_png_codec_roundtrip_property():
    """Pure-Python property test (no Spark): arbitrary small grayscale
    images, arbitrary per-row filter types, arbitrary zlib level — the
    decoder must reconstruct the exact pixels. Complements the
    deterministic filter test with generated coverage."""
    import binascii

    from hypothesis import given, settings
    from hypothesis import strategies as st

    _, decode_png, _, _ = M._make_png_codec()

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    def flt(row: bytes, prev: bytes, ftype: int, w: int) -> bytes:
        out = bytearray()
        for c in range(w):
            a = row[c - 1] if c else 0
            b = prev[c]
            cc = prev[c - 1] if c else 0
            if ftype == 0:
                v = row[c]
            elif ftype == 1:
                v = (row[c] - a) & 0xFF
            elif ftype == 2:
                v = (row[c] - b) & 0xFF
            elif ftype == 3:
                v = (row[c] - (a + b) // 2) & 0xFF
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                v = (row[c] - pr) & 0xFF
            out.append(v)
        return bytes(out)

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        seed=st.integers(0, 2**31),
        filters=st.lists(st.integers(0, 4), min_size=12, max_size=12),
        level=st.integers(0, 9),
    )
    def check(w, h, seed, filters, level):
        pixels = bytes((seed * 2654435761 + 97 * i) % 256 for i in range(w * h))
        raw = b""
        prev = bytes(w)
        for r in range(h):
            row = pixels[r * w : (r + 1) * w]
            raw += bytes([filters[r]]) + flt(row, prev, filters[r], w)
            prev = row
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, level))
            + chunk(b"IEND", b"")
        )
        gw, gh, gch, got, _ct = decode_png(png)
        assert (gw, gh, gch, got) == (w, h, 1, pixels)

    check()


def _hashes(payloads: dict[int, bytes]) -> dict[int, int]:
    out = _run_stage(M.phash_stage(), payloads)
    return dict(zip(out["doc_id"].tolist(), out["ahash"].tolist()))


def test_phash_rederives_from_raw_payload_bytes(docs, payloads):
    """The stored-block layout puts pixel i of an image with source
    length s at payload offset 65 + s + 9·(i//8) + (i%8); hashing those
    raw bytes (no codec at all) must reproduce phash_stage's output,
    proving the decoder's reconstruction equals the bytes in the file —
    the hex(payload) contract of the SQL twin, held structurally."""
    hashes = _hashes(payloads)
    src = {int(d): len(s.encode("utf-8")) for d, s in zip(docs["doc_id"], docs["source"])}
    assert hashes
    for doc_id, ahash in hashes.items():
        payload, s = payloads[doc_id], src[doc_id]
        h = M.PNG_H_BASE + doc_id % M.PNG_H_MOD
        npx = M.PNG_W * h
        stride = max(npx // M.PHASH_PIXELS, 1)
        px = []
        for k in range(M.PHASH_PIXELS):
            i = (k * stride) % npx
            px.append(payload[65 + s + 9 * (i // 8) + (i % 8)])
        mean = sum(px) // M.PHASH_PIXELS
        expect = 0
        for k in range(M.PHASH_BITS):
            if px[k] > mean:
                expect |= 1 << k
        assert expect == ahash, doc_id


def test_palette_roundtrip_property():
    """The SECOND codec (r6, VERDICT r5 task #7): arbitrary small gray
    images encoded as palette-8 (color type 3) must decode to the SAME
    pixel bytes the gray-8 encoding yields, with the documented size
    delta (+12 + 3·n_colors for the PLTE chunk)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    encode_png, decode_png, encode_png_palette, _ = M._make_png_codec()

    @settings(max_examples=60, deadline=None)
    @given(w=st.integers(1, 12), h=st.integers(1, 12), seed=st.integers(0, 2**31))
    def check(w, h, seed):
        pixels = bytes((seed * 2654435761 + 97 * i) % 256 for i in range(w * h))
        gray = encode_png(pixels, w, h, b"s")
        pal = encode_png_palette(pixels, w, h, b"s")
        assert len(pal) == len(gray) + 12 + 3 * len(set(pixels))
        gw, gh, gch, got, gct = decode_png(gray)
        pw, ph, pch, pot, pct = decode_png(pal)
        assert (gw, gh, gch, gct) == (w, h, 1, 0)
        assert (pw, ph, pch, pct) == (w, h, 1, 3)
        assert got == pot == pixels  # codec-agnostic downstream contract

    check()


def test_colored_palette_resolves_rgb():
    """A palette with non-gray entries must resolve to interleaved
    3-channel RGB — the general color-type-3 semantics, not just the
    gray fixture's special case."""
    import binascii

    _, decode_png, _, _ = M._make_png_codec()

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    w, h = 3, 2
    idx = bytes([0, 1, 2, 2, 1, 0])
    raw = b"".join(b"\x00" + idx[r * w : (r + 1) * w] for r in range(h))
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    pw, ph, pch, pix, pct = decode_png(png)
    assert (pw, ph, pch, pct) == (w, h, 3, 3)
    assert pix == bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 255, 0, 255, 0, 255, 0, 0]
    )


def test_palette_tamper_rejected():
    """Palette-specific failure modes: a corrupted PLTE byte (chunk CRC),
    an out-of-range palette index, and a missing PLTE must all raise."""
    import binascii

    _, decode_png, encode_png_palette, _ = M._make_png_codec()
    pixels = bytes((37 * i) % 256 for i in range(8 * 8))
    pal = encode_png_palette(pixels, 8, 8, b"s")
    bad = bytearray(pal)
    plte_at = pal.index(b"PLTE") + 4
    bad[plte_at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    w = h = 2
    raw = b"".join(b"\x00" + bytes([9, 9]) for _ in range(h))  # index 9 of a 2-entry palette
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", bytes([0, 0, 0, 255, 255, 255]))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        decode_png(png)
    no_plte = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="without PLTE"):
        decode_png(no_plte)


def test_mixed_codec_ahash_is_codec_agnostic(docs):
    """The aHash contract survives the container swap: hashing a mixed
    gray/palette corpus must produce EXACTLY the hashes of the all-gray
    corpus (the palette path reconstructs identical pixel bytes)."""
    gray = _hashes(_build_all(M.png_builder(1), docs))
    mixed = _hashes(_build_all(M.png_builder(2), docs))
    assert mixed == gray


def test_rgb_roundtrip_property():
    """Truecolor (color type 2) encode→decode is identity on the
    interleaved RGB plane, across geometries and pixel contents."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    encode_png_rgb = M._make_png_codec()[3]
    decode_png = M._make_png_codec()[1]

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=12),
        h=st.integers(min_value=1, max_value=12),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def check(w, h, seed):
        rgb = bytes((seed * 2654435761 + 97 * i) % 256 for i in range(3 * w * h))
        png = encode_png_rgb(rgb, w, h, b"s")
        gw, gh, gch, got, ct = decode_png(png)
        assert (gw, gh, gch, ct) == (w, h, 3, 2)
        assert got == rgb

    check()


def test_rgb_filters_reconstruct_with_bpp3():
    """bpp=3 filter reconstruction: the a/c predictors must reach back a
    whole PIXEL (3 bytes), not 1 byte — a PNG whose rows use every filter
    type 0-4, filtered with bpp=3 by an independent reference here, must
    reconstruct the original interleaved plane. A bpp=1 decoder gets
    filters 1/3/4 wrong on exactly this input."""
    import binascii

    _, decode_png, _, _ = M._make_png_codec()
    w, h, bpp = 8, 5, 3
    sw = bpp * w
    pixels = bytes((29 * i + 11) % 256 for i in range(sw * h))

    def flt(row: bytes, prev: bytes, ftype: int) -> bytes:
        out = bytearray()
        for c in range(sw):
            a = row[c - bpp] if c >= bpp else 0
            b = prev[c]
            cc = prev[c - bpp] if c >= bpp else 0
            if ftype == 0:
                v = row[c]
            elif ftype == 1:
                v = (row[c] - a) & 0xFF
            elif ftype == 2:
                v = (row[c] - b) & 0xFF
            elif ftype == 3:
                v = (row[c] - (a + b) // 2) & 0xFF
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                v = (row[c] - pr) & 0xFF
            out.append(v)
        return bytes(out)

    raw = b""
    prev = bytes(sw)
    for r in range(h):
        row = pixels[r * sw : (r + 1) * sw]
        raw += bytes([r]) + flt(row, prev, r)
        prev = row

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )
    gw, gh, gch, got, ct = decode_png(png)
    assert (gw, gh, gch, ct) == (w, h, 3, 2)
    assert got == pixels


def test_rgb_tamper_rejected():
    """A flipped byte inside the RGB IDAT breaks the chunk CRC and the
    decode raises — per-record tolerance drops the row, never returns
    silently wrong pixels."""
    encode_png_rgb = M._make_png_codec()[3]
    decode_png = M._make_png_codec()[1]
    png = bytearray(encode_png_rgb(bytes(range(3 * 8 * 4)), 8, 4, b"s"))
    idat = png.index(b"IDAT")
    png[idat + 20] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(png))


def test_gray_rgb_luma_ahash_equality(spark):
    """The luma contract: an RGB encode with r=g=b=v has luma
    (v + 2v + v) // 4 = v exactly, so its aHash equals the gray
    encode's — a re-encoded copy of an image hashes identically
    whatever color type it arrived in (the cross-container image-dedup
    property). Checked THROUGH the real Arrow pipeline
    (``fused_codec_pipeline``), not just the local codec."""
    from wd2sql_spark.catalog import table

    encode_png, _, _, encode_png_rgb = M._make_png_codec()

    def builder(rgb: bool):
        def build(doc_id: int, tb: bytes, source: str) -> bytes:
            if not tb:
                return b""
            h = M.PNG_H_BASE + doc_id % M.PNG_H_MOD
            npx = M.PNG_W * h
            stride = max(len(tb) // npx, 1)
            px = bytes(tb[(i * stride) % len(tb)] for i in range(npx))
            if rgb:
                return encode_png_rgb(
                    bytes(v for p in px for v in (p, p, p)), M.PNG_W, h, b"s"
                )
            return encode_png(px, M.PNG_W, h, b"s")

        return build

    docs = table(spark, SF, "documents").limit(40)

    def hashes(rgb: bool) -> dict:
        df = M.fused_codec_pipeline(
            docs, builder(rgb), M.phash_stage(), schema=M.PHASH_SCHEMA
        )
        return {r["doc_id"]: r["ahash"] for r in df.collect()}

    gray, rgb = hashes(False), hashes(True)
    assert gray and gray == rgb
