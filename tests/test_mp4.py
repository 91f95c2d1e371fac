"""ISO BMFF (MP4) container parsing + writing (r5, functions/mp4.py) —
the r4 verdict's remaining video-container gap.

Independence structure mirrors the JPEG suite: the parser is checked
against a committed fixture (byte-stability across rounds), the writer
against the parser (mux -> parse round-trip must recover the exact
sample bytes), the stsc chunk expansion against multiple chunk layouts,
and the whole thing is fuzzed for bounded failure on corrupt input.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pytest

from parallel_pagerank_spark.functions import mp4
from parallel_pagerank_spark.functions.jpeg import (
    decode_jpeg,
    encode_jpeg,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _pattern(h=48, w=64, shift=0):
    yy, xx = np.mgrid[0:h, 0:w]
    r = ((xx + shift) * 255 // (w - 1) % 256).astype(np.uint8)
    g = (yy * 255 // (h - 1)).astype(np.uint8)
    b = ((((xx + shift) // 8 + yy // 8) % 2) * 200 + 20).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)


def _mux(n=7, spc=3, q=85):
    frames = [_pattern(shift=4 * i) for i in range(n)]
    samples = [encode_jpeg(f, quality=q) for f in frames]
    return samples, mp4.encode_mp4_mjpeg(
        samples, 64, 48, fps=5, samples_per_chunk=spc
    )


def test_mp4_mux_parse_roundtrip_exact_samples():
    """Every sample extracted from the muxed file must be byte-identical
    to the JPEG that went in — across chunk layouts that produce one
    stsc entry (divisible), two entries (remainder chunk), and the
    one-sample-per-chunk degenerate."""
    for n, spc in ((6, 3), (7, 3), (7, 1), (5, 8)):
        samples, blob = _mux(n=n, spc=spc)
        got = mp4.extract_video_samples(blob)
        assert [i for i, _ in got] == list(range(n))
        assert [raw for _, raw in got] == samples, (n, spc)
        # selected-index extraction touches only those ranges
        sel = mp4.extract_video_samples(blob, [0, n - 1])
        assert sel[0][1] == samples[0] and sel[1][1] == samples[-1]


def test_mp4_info_metadata():
    _, blob = _mux(n=7)
    info = mp4.mp4_info(blob)
    assert info["brand"] == "isom"
    (t,) = info["tracks"]
    assert t["handler"] == "vide" and t["codec"] == "jpeg"
    assert (t["width"], t["height"]) == (64, 48)
    assert t["n_samples"] == 7
    assert t["timescale"] == 600
    assert t["duration_sec"] == pytest.approx(7 / 5)


def test_mp4_committed_fixture_matches_golden():
    """Committed MP4 fixture parses to the committed metadata and its
    first sample decodes EXACTLY to the committed golden array — pins
    the box walk, the stsc/stsz/stco expansion, and the JPEG decode
    byte-for-byte across rounds. The fixture is also reproducible from
    today's muxer."""
    blob = open(os.path.join(FIXTURES, "pattern_7f.mp4"), "rb").read()
    golden = np.load(
        os.path.join(FIXTURES, "pattern_7f_frame0_golden.npy")
    )
    info = mp4.mp4_info(blob)
    (t,) = info["tracks"]
    assert (t["codec"], t["width"], t["height"], t["n_samples"]) == (
        "jpeg",
        64,
        48,
        7,
    )
    (idx, raw), = mp4.extract_video_samples(blob, [0])
    assert idx == 0
    assert (decode_jpeg(raw) == golden).all()
    samples = [
        encode_jpeg(_pattern(shift=4 * i), quality=85) for i in range(7)
    ]
    assert (
        mp4.encode_mp4_mjpeg(samples, 64, 48, fps=5, samples_per_chunk=3)
        == blob
    )


def test_mp4_rejects_non_bmff_and_missing_tracks():
    with pytest.raises(ValueError, match="moov"):
        mp4.mp4_info(b"\x00\x00\x00\x08ftyp" + b"\x00" * 64)
    with pytest.raises(ValueError):
        mp4.mp4_video_sample_table(b"not an mp4 at all...")
    assert not mp4.is_mp4(b"\xff\xd8\xff\xe0 jpeg bytes")
    _, blob = _mux(n=3)
    assert mp4.is_mp4(blob)


def test_mp4_missing_sample_table_boxes_raise_value_error():
    """A video track whose stbl lacks stsc or both chunk-offset boxes
    fails with the module's ValueError contract, not a TypeError."""
    _, blob = _mux(n=3)
    for box in (b"stsc", b"stco"):
        # retype the box in place (moov comes last): same size, so the
        # container stays well-formed
        at = blob.rindex(box)
        hidden = blob[:at] + b"free" + blob[at + 4 :]
        with pytest.raises(ValueError, match="stbl missing stsc/stco"):
            mp4.mp4_video_sample_table(hidden)


def test_mp4_mux_rejects_fps_not_dividing_timescale():
    samples, _ = _mux(n=2)
    for fps in (0, -5, 7, 601, 1200):
        with pytest.raises(ValueError, match="fps"):
            mp4.encode_mp4_mjpeg(samples, 64, 48, fps=fps)
    for fps in (1, 24, 600):
        blob = mp4.encode_mp4_mjpeg(samples, 64, 48, fps=fps)
        assert [raw for _, raw in mp4.extract_video_samples(blob)] == samples


def test_mp4_fuzz_truncation_and_bitflips_bounded():
    """Corrupt containers must raise (or parse to SOMETHING) quickly —
    never hang: malformed box sizes are the classic parser-loop trap."""
    import struct

    _, blob = _mux(n=5)
    allowed = (ValueError, IndexError, KeyError, struct.error)
    t0 = time.time()
    for cut in range(0, len(blob), 61):
        try:
            mp4.mp4_info(blob[:cut])
            mp4.mp4_video_sample_table(blob[:cut])
        except allowed:
            pass
    rng = np.random.default_rng(9)
    buf = np.frombuffer(blob, np.uint8).copy()
    for _ in range(80):
        pos = int(rng.integers(0, len(buf)))
        flipped = buf.copy()
        flipped[pos] ^= 1 << int(rng.integers(8))
        try:
            mp4.mp4_info(flipped.tobytes())
            mp4.extract_video_samples(flipped.tobytes(), [0])
        except allowed:
            pass
    assert time.time() - t0 < 30.0


def test_spark_video_features_and_mp4_frame_sampling(spark):
    """End-to-end through mapInPandas: the synthetic media table now
    alternates raw-MJPEG and MP4 payloads; video_features answers
    metadata for both without decoding, and sample_frames decodes MP4
    samples to the SAME pixel hashes as the equivalent raw MJPEG would
    (both carry identical JPEG frame bytes per construction when fed
    the same frames)."""
    from parallel_pagerank_spark.functions.jpeg import encode_mjpeg
    from parallel_pagerank_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        sample_frames,
        synthetic_media,
        video_features,
    )

    media = synthetic_media(spark, n_rows=24, real_payloads=True)
    vf = {r["media_id"]: r for r in video_features(media).collect()}
    assert len(vf) == 8
    assert {r["container"] for r in vf.values()} == {"mjpeg", "mp4"}
    assert all(r["codec"] == "jpeg" for r in vf.values())
    assert all(r["n_frames"] >= 3 for r in vf.values())
    mp4_rows = [r for r in vf.values() if r["container"] == "mp4"]
    assert all(r["duration_sec"] > 0 for r in mp4_rows)

    # same frames, two containers -> identical sampled frame hashes
    frames = [_pattern(16, 16, shift=3 * i) for i in range(6)]
    jpegs = [encode_jpeg(f, quality=80) for f in frames]
    rows = [
        (0, "video", bytearray(encode_mjpeg(frames, quality=80)),
         (16, 16, None, 6, "mjpeg")),
        (1, "video", bytearray(
            mp4.encode_mp4_mjpeg(jpegs, 16, 16, fps=4)
        ), (16, 16, None, 6, "mp4")),
    ]
    two = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_frames(two, every_nth=2, decoder="real").collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r["media_id"], {})[r["frame_idx"]] = r[
            "frame_hash"
        ]
    assert by_media[0] == by_media[1]
    assert sorted(by_media[0]) == [0, 2, 4]
