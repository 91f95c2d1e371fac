"""Baseline JPEG + PNG zero-dependency codecs (r3 verdict gap #2).

Independence structure: the 8x8 DCT is checked against the literal
O(N^4) spec formula (not the matrix identity it is implemented with);
the decoder is exercised on REAL libjpeg-produced files from the
container's CPython installation when present (4:2:0 subsampling +
grayscale — streams our encoder cannot produce, so encoder/decoder
cannot share a consistent-but-wrong convention); and a committed
fixture + pre-decoded golden array pins byte-exact decode stability.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from parallel_pagerank_spark.functions import codecs
from parallel_pagerank_spark.functions.jpeg import (
    dct_blocks,
    decode_jpeg,
    encode_jpeg,
    idct_blocks,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")

# real baseline JPEGs shipped with the container's CPython (libjpeg
# output: one grayscale 1-component, one 4:2:0 3-component)
_SYS_JPEGS = [
    "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/"
    "site-packages/IPython/core/tests/2x2.jpg",
    "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/"
    "test/test_email/data/python.jpg",
]


def _pattern(h: int = 48, w: int = 64) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255 // (w - 1)).astype(np.uint8)
    g = (yy * 255 // (h - 1)).astype(np.uint8)
    b = (((xx // 8 + yy // 8) % 2) * 200 + 20).astype(np.uint8)
    img = np.stack([r, g, b], axis=-1)
    img[np.abs(yy * w - xx * h) < w] = [255, 0, 0]
    return img


def test_dct_matches_spec_formula():
    """Forward DCT equals the literal ITU-T T.81 A.3.3 double sum; IDCT
    inverts it to machine precision."""
    rng = np.random.default_rng(7)
    blk = rng.uniform(-128, 127, (2, 8, 8))

    def naive(b):
        out = np.zeros((8, 8))
        for u in range(8):
            for v in range(8):
                cu = np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8)
                cv = np.sqrt(1 / 8) if v == 0 else np.sqrt(2 / 8)
                s = 0.0
                for x in range(8):
                    for y in range(8):
                        s += (
                            b[x, y]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16)
                        )
                out[u, v] = cu * cv * s
        return out

    got = dct_blocks(blk)
    for i in range(len(blk)):
        assert np.allclose(got[i], naive(blk[i]), atol=1e-9)
    assert np.allclose(idct_blocks(got), blk, atol=1e-9)


def test_jpeg_roundtrip_quality_bound():
    img = _pattern()
    for quality, mean_bound in ((92, 3.0), (75, 6.0)):
        dec = decode_jpeg(encode_jpeg(img, quality=quality))
        assert dec.shape == img.shape and dec.dtype == np.uint8
        err = np.abs(dec.astype(int) - img.astype(int))
        assert err.mean() < mean_bound, (quality, err.mean())
    # grayscale input round-trips through the 1-component path
    gray = _pattern()[:, :, 0]
    dg = decode_jpeg(encode_jpeg(gray, quality=92))
    assert dg.shape == (*gray.shape, 3)
    assert (dg[:, :, 0] == dg[:, :, 1]).all()
    err = np.abs(dg[:, :, 0].astype(int) - gray.astype(int))
    assert err.mean() < 3.0


def test_jpeg_committed_fixture_matches_golden():
    """Committed fixture bytes decode EXACTLY to the committed golden
    array — pins decoder stability byte-for-byte across rounds."""
    enc = open(os.path.join(FIXTURES, "pattern_q88.jpg"), "rb").read()
    golden = np.load(os.path.join(FIXTURES, "pattern_q88_golden.npy"))
    dec = decode_jpeg(enc)
    assert dec.shape == golden.shape
    assert (dec == golden).all()
    # and the golden is a faithful decode of the generating pattern
    err = np.abs(golden.astype(int) - _pattern().astype(int))
    assert err.mean() < 4.0


@pytest.mark.parametrize(
    "path", [p for p in _SYS_JPEGS if os.path.exists(p)]
)
def test_jpeg_decodes_real_libjpeg_files(path):
    """Real libjpeg streams (grayscale; 4:2:0 subsampled color) decode
    with correct dimensions and plausible content."""
    out = decode_jpeg(open(path, "rb").read())
    assert out.dtype == np.uint8 and out.ndim == 3 and out.shape[2] == 3
    if path.endswith("python.jpg"):
        assert out.shape == (16, 16, 3)
        img = out.astype(int)
        tl = img[2:7, 2:7].reshape(-1, 3).mean(axis=0)
        br = img[10:15, 10:15].reshape(-1, 3).mean(axis=0)
        # the 16x16 Python logo: blue snake top-left (B dominant),
        # yellow snake bottom-right (R,G dominate B)
        assert tl[2] > tl[1] > tl[0]
        assert br[0] > br[2] and br[1] > br[2]
    else:
        assert out.shape == (2, 2, 3)


def test_jpeg_rejects_unsupported_sof_and_garbage():
    img = _pattern(16, 16)
    enc = bytearray(encode_jpeg(img))
    sof = enc.find(b"\xff\xc0")
    enc[sof + 1] = 0xC3  # rewrite SOF0 -> SOF3 (lossless sequential)
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(bytes(enc))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg at all")


# ------------------------------------------------------------ progressive


def test_jpeg_marker_walk_skips_fill_bytes():
    """Any marker may be preceded by 0xFF fill bytes (T.81 B.1.1.2): the
    decoder and the header-only walk see the same image with or without
    them."""
    from parallel_pagerank_spark.functions.jpeg import jpeg_dimensions

    img = _pattern()
    enc = encode_jpeg(img, quality=85)
    # pad before the first marker after SOI and before SOF0
    sof = enc.index(b"\xff\xc0")
    padded = enc[:2] + b"\xff\xff" + enc[2:sof] + b"\xff" + enc[sof:]
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(enc))
    assert jpeg_dimensions(padded) == jpeg_dimensions(enc) == (48, 64)


def test_jpeg_progressive_equals_baseline_decode():
    """The default progressive scan script transmits every coefficient
    bit down to Al = 0, so decoding the progressive encoding must give
    EXACTLY the pixels of decoding the baseline encoding at the same
    quality/sampling (identical quantized coefficients) — across
    qualities, all four sampling factors, and non-MCU-multiple dims.
    This exercises spectral selection, both successive-approximation
    refinement kinds (DC bit scans, AC correction bits), interleaved
    and non-interleaved grids, and cross-block EOB runs."""
    from parallel_pagerank_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    for dims in ((48, 64), (33, 47), (17, 23)):
        img = _pattern(*dims)
        for samp in ((1, 1), (2, 1), (1, 2), (2, 2)):
            for q in (85, 60):
                b = decode_jpeg(encode_jpeg(img, quality=q, sampling=samp))
                p = decode_jpeg(
                    encode_jpeg_progressive(img, quality=q, sampling=samp)
                )
                assert (b == p).all(), (dims, samp, q)
    # grayscale single-component script
    g = _pattern(24, 40)[:, :, 1]
    bg = decode_jpeg(encode_jpeg(g, quality=80))
    pg = decode_jpeg(encode_jpeg_progressive(g, quality=80))
    assert (bg == pg).all()


def test_jpeg_progressive_eob_runs_and_sparse():
    """A nearly-empty image forces long cross-block EOB runs (EOBn with
    n >> 1 + buffered refinement correction bits) — the dominant symbol
    class in real libjpeg progressive files."""
    from parallel_pagerank_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    sp = np.zeros((128, 160, 3), np.uint8)
    sp[64, 80] = [200, 10, 10]
    sp[10, 10] = [0, 255, 0]
    b = decode_jpeg(encode_jpeg(sp, quality=75))
    p = decode_jpeg(encode_jpeg_progressive(sp, quality=75))
    assert (b == p).all()


def test_jpeg_progressive_committed_fixture_matches_golden():
    """Committed progressive (SOF2, 4:2:0) fixture decodes EXACTLY to
    the committed golden array — pins the progressive decoder
    byte-for-byte across rounds, including the non-interleaved
    subsampled AC grid and interleaved DC scans."""
    from parallel_pagerank_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    enc = open(
        os.path.join(FIXTURES, "pattern_q88_prog420.jpg"), "rb"
    ).read()
    golden = np.load(
        os.path.join(FIXTURES, "pattern_q88_prog420_golden.npy")
    )
    # really progressive: SOF2 marker present, SOF0/1 absent
    assert b"\xff\xc2" in enc[:200]
    dec = decode_jpeg(enc)
    assert dec.shape == golden.shape
    assert (dec == golden).all()
    # the golden is a faithful decode of the generating pattern
    err = np.abs(golden.astype(int) - _pattern().astype(int))
    assert err.mean() < 9.0  # 4:2:0 chroma loss on a chroma-busy pattern
    # and the fixture is reproducible from the encoder today
    assert (
        encode_jpeg_progressive(_pattern(), quality=88, sampling=(2, 2))
        == enc
    )


def test_jpeg_fuzz_truncation_and_bitflips_bounded():
    """Corrupt streams must raise (or decode to SOME image) quickly —
    never hang or loop unboundedly: a malformed 100 TB corpus must not
    stall a task. Truncations at every granularity and deterministic
    bit flips across the whole stream."""
    import time

    from parallel_pagerank_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    img = _pattern(24, 32)
    streams = [
        encode_jpeg(img, quality=70),
        encode_jpeg_progressive(img, quality=70, sampling=(2, 2)),
    ]
    allowed = (ValueError, NotImplementedError, IndexError, KeyError)
    t0 = time.time()
    for enc in streams:
        for cut in range(2, len(enc), 97):
            try:
                out = decode_jpeg(enc[:cut])
                assert isinstance(out, np.ndarray)
            except allowed:
                pass
        rng = np.random.default_rng(42)
        buf = np.frombuffer(enc, np.uint8).copy()
        for _ in range(60):
            pos = int(rng.integers(2, len(buf)))
            bit = int(rng.integers(8))
            flipped = buf.copy()
            flipped[pos] ^= 1 << bit
            try:
                out = decode_jpeg(flipped.tobytes())
                assert isinstance(out, np.ndarray)
            except allowed:
                pass
    assert time.time() - t0 < 60.0


def test_jpeg_roundtrip_hypothesis_images():
    """Property test: random images round-trip within quantization
    error at several (quality, sampling) points, and progressive decode
    always equals baseline decode."""
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as hst
    from hypothesis.extra import numpy as hnp

    from parallel_pagerank_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        img=hnp.arrays(
            np.uint8,
            hst.tuples(
                hst.integers(9, 40), hst.integers(9, 40), hst.just(3)
            ),
        ),
        q=hst.sampled_from([50, 85, 95]),
        samp=hst.sampled_from([(1, 1), (2, 2)]),
    )
    def check(img, q, samp):
        b = decode_jpeg(encode_jpeg(img, quality=q, sampling=samp))
        assert b.shape == img.shape and b.dtype == np.uint8
        p = decode_jpeg(
            encode_jpeg_progressive(img, quality=q, sampling=samp)
        )
        assert (b == p).all()

    check()


def test_png_roundtrip_write_png_exact(tmp_path):
    """PNG decode exactly inverts the engine's own stdlib PNG encoder
    (plans/plots.write_png) — lossless, bit-for-bit."""
    from parallel_pagerank_spark.plans.plots import write_png

    img = _pattern(33, 47)  # non-multiple-of-anything dims
    p = str(tmp_path / "x.png")
    write_png(p, img)
    dec = codecs.decode_png(open(p, "rb").read())
    assert (dec == img).all()


def test_png_all_filters_decode():
    """Hand-assemble one PNG per scanline filter type (0,1,2,3,4) and
    check the unfiltering against the directly-computed raster."""
    import struct
    import zlib

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    h, w = img.shape[:2]
    for f in range(5):
        rows = bytearray()
        prev = np.zeros(w * 3, dtype=np.int64)
        for y in range(h):
            cur = img[y].reshape(-1).astype(np.int64)
            if f == 0:
                filt = cur
            elif f == 1:  # Sub
                left = np.concatenate([[0, 0, 0], cur[:-3]])
                filt = (cur - left) & 0xFF
            elif f == 2:  # Up
                filt = (cur - prev) & 0xFF
            elif f == 3:  # Average
                left = np.concatenate([[0, 0, 0], cur[:-3]])
                filt = (cur - ((left + prev) >> 1)) & 0xFF
            else:  # Paeth
                left = np.concatenate([[0, 0, 0], cur[:-3]])
                ul = np.concatenate([[0, 0, 0], prev[:-3]])
                p = left + prev - ul
                pa, pb, pc = (
                    np.abs(p - left),
                    np.abs(p - prev),
                    np.abs(p - ul),
                )
                pred = np.where(
                    (pa <= pb) & (pa <= pc),
                    left,
                    np.where(pb <= pc, prev, ul),
                )
                filt = (cur - pred) & 0xFF
            rows += bytes([f]) + bytes(filt.astype(np.uint8))
            prev = cur
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(rows)))
            + chunk(b"IEND", b"")
        )
        dec = codecs.decode_png(png)
        assert (dec == img).all(), f"filter {f}"


def test_png_gray_palette_alpha_variants():
    import struct
    import zlib

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    def build(color_type, raster, extra=b""):
        h, w = raster.shape[:2]
        rows = b"".join(
            b"\x00" + raster[y].tobytes() for y in range(h)
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(
                b"IHDR",
                struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0),
            )
            + extra
            + chunk(b"IDAT", zlib.compress(rows))
            + chunk(b"IEND", b"")
        )

    # grayscale (type 0) -> replicated channels
    g = np.arange(12, dtype=np.uint8).reshape(3, 4)
    out = codecs.decode_png(build(0, g[..., None]))
    assert (out[:, :, 0] == g).all() and (out[:, :, 1] == g).all()
    # RGBA (type 6) -> alpha dropped
    rgba = np.dstack([g, g + 1, g + 2, np.full_like(g, 9)])
    out = codecs.decode_png(build(6, rgba))
    assert (out[:, :, 2] == g + 2).all()
    # palette (type 3)
    pal = np.array([[250, 0, 0], [0, 250, 0], [0, 0, 250]], np.uint8)
    idx = np.array([[0, 1], [2, 0]], np.uint8)
    png = build(3, idx[..., None], extra=chunk(b"PLTE", pal.tobytes()))
    out = codecs.decode_png(png)
    assert (out == pal[idx]).all()


def test_image_features_real_decoder_on_jpeg_png(spark, tmp_path):
    """The multimodal pipeline's real decode path handles JPEG and PNG
    payloads end-to-end: mean_luma matches the golden decode exactly."""
    from parallel_pagerank_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        image_features,
    )
    from parallel_pagerank_spark.plans.plots import write_png

    jpg = open(os.path.join(FIXTURES, "pattern_q88.jpg"), "rb").read()
    golden = np.load(os.path.join(FIXTURES, "pattern_q88_golden.npy"))
    p = str(tmp_path / "p.png")
    img = _pattern(20, 20)
    write_png(p, img)
    png = open(p, "rb").read()
    meta = (None, None, None, None, None)
    media = spark.createDataFrame(
        [(1, "image", bytearray(jpg), meta), (2, "image", bytearray(png), meta)],
        MEDIA_SCHEMA,
    )
    rows = {
        r["media_id"]: r
        for r in image_features(media, decoder="real").collect()
    }
    want_jpg = float(codecs.grayscale(golden).mean()) / 255.0
    want_png = float(codecs.grayscale(img).mean()) / 255.0
    assert rows[1]["mean_luma"] == pytest.approx(want_jpg, abs=1e-6)
    assert rows[2]["mean_luma"] == pytest.approx(want_png, abs=1e-6)
    assert len(rows[1]["feature"]) == 64
