"""The MJPEG-in-AVI container path (operators/multimodal.py r9): RIFF
grammar round-trip, word-alignment padding, JUNK tolerance, idx1
cross-check, and truncation/corruption refusal — driven on hand-built
streams, no Spark session needed for the container layer itself.

Reference parity note: the reference ingests only typed decoded values
(src/main.rs:141-161); the demuxer's per-record refusal of corrupt
containers is the per-record tolerance rule of its skip-bad-JSON loop
(src/main.rs:188-196) applied to a binary grammar.
"""

from __future__ import annotations

import struct

import pytest

from wd2sql_spark.operators.multimodal import (
    AVI_FRAMES_MOD,
    JPEG_BLOCKS_W,
    _make_avi_container,
    _make_jpeg_codec,
)

encode_avi, demux_avi = _make_avi_container()
encode_jpeg, decode_jpeg = _make_jpeg_codec()


def _frames(k: int, hb: int = 2, com: bytes = b"s"):
    """k genuine JPEG frames with per-frame-varying block values; COM
    length varies per frame so odd/even chunk sizes both occur and the
    movi walk must honor pad bytes."""
    out = []
    for f in range(k):
        vals = [(37 * f + 11 * i) % 256 for i in range(JPEG_BLOCKS_W * hb)]
        out.append(encode_jpeg(vals, JPEG_BLOCKS_W, hb, com + b"x" * f))
    return out


def test_round_trip_multi_frame():
    frames = _frames(4)
    avi = encode_avi(frames, 16, 16)
    got = demux_avi(avi)
    assert [f for _, _, f in got] == frames
    assert [n for n, _, _ in got] == [0, 1, 2, 3]
    # every frame still decodes through the real JPEG path
    for _, _, fr in got:
        w, h, px = decode_jpeg(fr)
        assert (w, h) == (16, 16) and len(px) == 256


def test_word_alignment_pad_bytes():
    """Odd-size frames force pad bytes; offsets in the demux walk (and
    idx1) must step over them or every later frame shifts by one."""
    frames = _frames(3)
    sizes = [len(f) for f in frames]
    assert any(s % 2 for s in sizes), "fixture must contain an odd size"
    avi = encode_avi(frames, 16, 16)
    got = demux_avi(avi)
    # offset deltas = 8-byte chunk header + padded payload
    for (_, o1, f1), (_, o2, _) in zip(got, got[1:]):
        assert o2 - o1 == 8 + len(f1) + (len(f1) & 1)


def test_junk_chunks_are_skipped():
    """Real muxers pad with JUNK at top level AND inside movi."""
    frames = _frames(2)
    avi = bytearray(encode_avi(frames, 16, 16))
    junk = b"JUNK" + struct.pack("<I", 6) + b"\x00" * 6
    # splice a top-level JUNK before idx1 and fix the RIFF size
    i = bytes(avi).rindex(b"idx1")
    avi = avi[:i] + junk + avi[i:]
    avi[4:8] = struct.pack("<I", len(avi) - 8)
    got = demux_avi(bytes(avi))
    assert [f for _, _, f in got] == frames


def test_riff_size_mismatch_refused():
    avi = bytearray(encode_avi(_frames(2), 16, 16))
    avi[4] ^= 1
    with pytest.raises(ValueError, match="RIFF size"):
        demux_avi(bytes(avi))


def test_truncated_file_refused():
    avi = encode_avi(_frames(2), 16, 16)
    with pytest.raises(ValueError):
        demux_avi(avi[: len(avi) // 2])


def test_idx1_divergence_refused():
    """A flipped idx1 size byte must be detected — the index is a
    cross-check on the movi walk, not decoration."""
    avi = bytearray(encode_avi(_frames(2), 16, 16))
    i = bytes(avi).rindex(b"idx1")
    avi[i + 8 + 12] ^= 0xFF  # first entry's dwChunkSize low byte
    with pytest.raises(ValueError, match="idx1"):
        demux_avi(bytes(avi))


def test_frame_count_cross_check():
    """avih's dwTotalFrames must equal the movi walk's frame count: drop
    the last movi chunk (and fix sizes) and the demuxer refuses."""
    frames = _frames(2)
    avi = encode_avi(frames, 16, 16)
    last = frames[1]
    ck = b"00dc" + struct.pack("<I", len(last)) + last + (b"\x00" if len(last) % 2 else b"")
    i = avi.rindex(ck)
    cut = bytearray(avi[:i] + avi[i + len(ck):])
    # fix movi LIST size and RIFF size so only the frame count diverges
    j = bytes(cut).index(b"movi") - 8
    (movi_size,) = struct.unpack("<I", cut[j + 4 : j + 8])
    cut[j + 4 : j + 8] = struct.pack("<I", movi_size - len(ck))
    cut[4:8] = struct.pack("<I", len(cut) - 8)
    with pytest.raises(ValueError, match="frame count"):
        demux_avi(bytes(cut))


def test_not_avi_refused():
    with pytest.raises(ValueError):
        demux_avi(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        demux_avi(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)

