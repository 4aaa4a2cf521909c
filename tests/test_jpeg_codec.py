"""Baseline JPEG codec (operators/jpeg_codec.py): marker-structure pins,
lossless constant-block round trip (the oracle contract), lossy arbitrary-
image round trip within quantization error, color path, Huffman/bitstream
fuzz, and the Spark decode tier.
Reference parity targets: /root/reference/src/parsers/jpeg.cpp (marker
walk) + extensions/opencv/opencv_decoder.cpp:104 (CPU decode path)."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nvimagecodec_spark.operators import jpeg_codec as J


def _blocky(bw, bh, seed=7):
    """Image of constant 8x8 blocks — the exactly-round-trippable family."""
    bx = np.arange(bw)
    by = np.arange(bh)
    vals = (seed + 5 * bx[None, :] + 9 * by[:, None]) % 256
    return np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)


# ------------------------------------------------------------ structure

def test_marker_structure_and_header_parse():
    b = J.encode_jpeg(_blocky(3, 2))
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    # one DQT (gray), SOF0 with our dims, 2 DHT, SOS — via the existing
    # header parser (codec_headers) to prove cross-module consistency
    from nvimagecodec_spark.operators import codec_headers as CH
    info = CH.parse_jpeg_info(b)
    assert info["width"] == 24 and info["height"] == 16
    assert info["channels"] == 1 and info["progressive"] is False


def test_quant_table_quality_scaling():
    assert J.quant_table(J._Q_LUM_BASE, 75)[0] == 8
    assert J.quant_table(J._Q_LUM_BASE, 50)[0] == 16
    assert (J.quant_table(J._Q_LUM_BASE, 100) == 1).any()
    assert J.quant_table(J._Q_LUM_BASE, 1).max() <= 255


def test_zigzag_is_a_permutation_and_spec_prefix():
    assert sorted(J.ZIGZAG.tolist()) == list(range(64))
    # first 10 entries of the T.81 §A.3.6 order, hand-transcribed
    assert J.ZIGZAG[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]


# ------------------------------------------------------------ round trips

@pytest.mark.parametrize("bw,bh", [(2, 2), (5, 3), (7, 7)])
def test_constant_blocks_roundtrip_exact_q75(bw, bh):
    """quality 75 → q00 = 8 divides the DC of a constant block exactly,
    so decode(encode(x)) == x bit-for-bit — the oracle contract."""
    img = _blocky(bw, bh)
    out = J.decode_jpeg(J.encode_jpeg(img, quality=75))
    assert out.shape == img.shape
    np.testing.assert_array_equal(out, img)


def test_arbitrary_image_roundtrip_within_quant_error():
    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, size=(32, 40), dtype=np.uint8)
    out = J.decode_jpeg(J.encode_jpeg(img, quality=90))
    err = np.abs(out.astype(int) - img.astype(int))
    # worst-case error is bounded by the quant-table energy; q90 keeps
    # random noise (worst case for JPEG) well inside this envelope
    assert err.mean() < 16 and err.max() < 128


def test_smooth_gradient_high_quality_near_lossless():
    x = np.arange(48)
    img = ((x[None, :] + 2 * x[:24, None]) % 200 + 20).astype(np.uint8)
    out = J.decode_jpeg(J.encode_jpeg(img, quality=95))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 12


def test_color_roundtrip():
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:, :8] = [200, 30, 40]
    img[:, 8:] = [20, 180, 220]
    out = J.decode_jpeg(J.encode_jpeg(img, quality=92))
    assert out.shape == (16, 16, 3)
    assert np.abs(out[2, 2].astype(int) - [200, 30, 40]).max() <= 10
    assert np.abs(out[10, 12].astype(int) - [20, 180, 220]).max() <= 10


def test_dc_differential_across_blocks():
    """Strongly varying DC per block exercises differential coding with
    large categories in both signs."""
    vals = np.array([[0, 255, 0, 255], [255, 0, 255, 0]])
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)
    out = J.decode_jpeg(J.encode_jpeg(img, quality=75))
    np.testing.assert_array_equal(out, img)


def test_420_subsampled_color_roundtrip():
    """4:2:0 — 4 Y + Cb + Cr blocks per MCU, box-downsampled chroma,
    nearest-neighbor upsample on decode. Flat color regions (constant
    within each 16x16 MCU) survive near-exactly."""
    img = np.zeros((32, 48, 3), dtype=np.uint8)
    img[:16] = [180, 60, 90]
    img[16:, :16] = [30, 140, 200]
    img[16:, 16:] = [250, 250, 10]
    b = J.encode_jpeg(img, quality=90, subsampling="420")
    b444 = J.encode_jpeg(img, quality=90, subsampling="444")
    assert len(b) < len(b444)  # chroma planes are 1/4 size
    out = J.decode_jpeg(b)
    assert out.shape == img.shape
    # sample away from MCU boundaries: all three regions reconstruct
    for (y, x) in [(4, 4), (24, 8), (24, 30)]:
        assert np.abs(out[y, x].astype(int) - img[y, x].astype(int)).max() <= 8


def test_420_gray_content_matches_444():
    """Luma path is identical under both layouts for grayscale content
    expressed as RGB (chroma planes are constant 128)."""
    g = np.repeat(np.repeat((np.arange(8).reshape(2, 4) * 31 % 256), 16, 0), 16, 1)
    img = np.stack([g, g, g], axis=2).astype(np.uint8)
    o420 = J.decode_jpeg(J.encode_jpeg(img, quality=75, subsampling="420"))
    o444 = J.decode_jpeg(J.encode_jpeg(img, quality=75, subsampling="444"))
    assert np.abs(o420.astype(int) - o444.astype(int)).max() <= 1


def test_any_dims_encode_via_edge_pad():
    """Non-MCU-multiple inputs edge-replicate to whole MCUs on encode and
    pad-crop back on decode — every size round-trips at the exact shape,
    and flat content stays exact (padding adds no new frequencies)."""
    for (h, w, c, sub) in [(24, 24, 3, "420"), (10, 16, 1, "444"), (1, 1, 1, "444"),
                           (17, 95, 3, "444"), (30, 47, 3, "420")]:
        shape = (h, w) if c == 1 else (h, w, c)
        flat = np.full(shape, 77, dtype=np.uint8)
        out = J.decode_jpeg(J.encode_jpeg(flat, quality=75, subsampling=sub))
        assert out.shape == ((h, w) if c == 1 else (h, w, 3))
        np.testing.assert_array_equal(
            out if c == 1 else out[:, :, 0], np.full((h, w), 77)
        )
        out_p = J.decode_jpeg(J.encode_jpeg_progressive(flat, quality=75, subsampling=sub))
        assert out_p.shape == out.shape and (out_p == out).all()


# ------------------------------------------------------------ rejection

def test_rejects_unsupported_streams():
    good = bytearray(J.encode_jpeg(_blocky(2, 2)))
    with pytest.raises(ValueError):
        J.decode_jpeg(b"\x00\x01not a jpeg")
    # flip SOF0 -> SOF2: the baseline scan header (Ss=0, Se=63) is an
    # illegal PROGRESSIVE scan (a DC scan must have Se=0), so the now-
    # supported progressive path still dead-letters this stream
    i = bytes(good).find(b"\xff\xc0")
    prog = good.copy()
    prog[i + 1] = 0xC2
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(prog))
    # claim 3x1 subsampling in the (only) component — outside {1,2}
    sub = good.copy()
    sub[i + 11] = 0x31
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(sub))
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(good[: len(good) // 2]))  # truncated scan
    with pytest.raises(ValueError):
        J.encode_jpeg(np.zeros((8, 8, 2), dtype=np.uint8))  # 2 channels


@settings(max_examples=50, deadline=None)
@given(st.binary(max_size=300))
def test_decode_never_crashes_on_garbage(b):
    try:
        J.decode_jpeg(b)
    except (ValueError, struct.error):
        pass  # dead-letter path; anything else would fail the test


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=2, max_value=600), st.integers(min_value=1, max_value=255))
def test_decode_survives_bitflips(pos, flip):
    b = bytearray(J.encode_jpeg(_blocky(2, 2)))
    b[pos % len(b)] ^= flip
    try:
        out = J.decode_jpeg(bytes(b))
        assert out.dtype == np.uint8  # decoded to something sane
    except (ValueError, struct.error):
        pass


# ------------------------------------------------------------ Spark tier

def test_spark_attach_decode_matches_formula(spark):
    """attach_jpegs → decode_jpegs must equal the md5 block formula the
    DuckDB oracle recomputes (lossless constant-block subspace)."""
    import hashlib
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "zebra quux")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in J.decode_jpegs(J.attach_jpegs(df)).collect()}
    for did, txt in [(1, "hello world"), (2, "zebra quux")]:
        md5 = hashlib.md5(txt.encode()).hexdigest()
        bw = int(md5[0:2], 16) % 6 + 2
        bh = int(md5[2:4], 16) % 6 + 2
        s = int(md5[4:6], 16)
        vals = [(s + 5 * bx + 9 * by) % 256 for by in range(bh) for bx in range(bw)]
        r = got[did]
        assert (r["width"], r["height"], r["codec"]) == (bw * 8, bh * 8, "jpeg")
        assert r["px_sum"] == 64 * sum(vals)
        assert r["px_min"] == min(vals) and r["px_max"] == max(vals)
        assert r["block_checksum"] == sum(
            v * (bx + 2 * by + 1)
            for (by, bx), v in zip(
                [(by, bx) for by in range(bh) for bx in range(bw)], vals
            )
        )


def test_spark_dead_letter_row(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8broken"))], "doc_id long, jpeg binary"
    )
    r = J.decode_jpegs(df).collect()[0]
    assert r["doc_id"] == 1 and r["codec"] is None and r["px_sum"] is None


# ---------------------------------------------------------- progressive


@pytest.mark.parametrize(
    "shape,sub",
    [((32, 40), "444"), ((32, 40, 3), "444"), ((32, 48, 3), "420"), ((64, 64, 3), "444")],
)
def test_progressive_decode_equals_baseline(shape, sub):
    """The spectral-selection progressive encoding carries coefficients
    identical to the baseline encoding, so decode output must match
    BIT-EXACTLY — any slip in scan order, EOB handling, or band
    bookkeeping shows up as a pixel diff."""
    rng = np.random.default_rng(sum(shape))
    arr = rng.integers(0, 256, shape, dtype=np.uint8)
    dp = J.decode_jpeg(J.encode_jpeg_progressive(arr, subsampling=sub))
    db = J.decode_jpeg(J.encode_jpeg(arr, subsampling=sub))
    assert dp.shape == db.shape and (dp == db).all()


def test_progressive_rejects_bad_scans():
    arr = np.zeros((16, 16), dtype=np.uint8)
    b = bytearray(J.encode_jpeg_progressive(arr))
    # truncated mid-scan
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(b[: len(b) * 2 // 3]))


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=2, max_value=600), st.integers(min_value=1, max_value=255))
def test_progressive_decode_survives_bitflips(pos, flip):
    b = bytearray(J.encode_jpeg_progressive(_blocky(2, 2)))
    b[pos % len(b)] ^= flip
    try:
        out = J.decode_jpeg(bytes(b))
        assert out.dtype == np.uint8
    except (ValueError, struct.error):
        pass


def _java_write_jpeg(jvm, vals3, progressive, q=0.75):
    h, w = vals3.shape[:2]
    bi = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for y in range(h):
        for x in range(w):
            r, g, b = map(int, vals3[y, x])
            bi.setRGB(x, y, (r << 16) | (g << 8) | b)
    wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    import tempfile

    p = tempfile.mktemp(suffix=".jpg")
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(jvm.java.io.File(p))
    wr.setOutput(ios)
    param = wr.getDefaultWriteParam()
    param.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(q)
    if progressive:
        param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
    ios.close()
    return p


def test_java_progressive_decodes_identical_to_java_baseline(spark):
    """The JDK writer's DEFAULT progressive script uses successive
    approximation (DC/AC refinement scans) — the full Annex G surface.
    Same writer + same quality ⇒ identical quantized coefficients, so OUR
    decode of the progressive file must equal OUR decode of the baseline
    file bit-for-bit. This pins every refinement-bit branch without any
    IDCT/upsample tolerance."""
    import os

    jvm = spark._jvm
    h, w = 32, 48
    y, x = np.mgrid[0:h, 0:w]
    rng = np.random.default_rng(2)
    for vals in (
        np.stack([(x * 3) % 256, (y * 5) % 256, ((x + y) * 2) % 256], axis=2).astype(
            np.uint8
        ),
        rng.integers(0, 256, (h, w, 3), dtype=np.uint8),
    ):
        pp = _java_write_jpeg(jvm, vals, True)
        pb = _java_write_jpeg(jvm, vals, False)
        bprog = open(pp, "rb").read()
        assert b"\xff\xc2" in bprog  # really SOF2
        dp = J.decode_jpeg(bprog)
        db = J.decode_jpeg(open(pb, "rb").read())
        assert dp.shape == db.shape and (dp == db).all()
        os.unlink(pp)
        os.unlink(pb)


def test_java_reads_our_progressive(spark):
    import os
    import tempfile

    jvm = spark._jvm
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, (32, 40), dtype=np.uint8)
    p = tempfile.mktemp(suffix=".jpg")
    with open(p, "wb") as f:
        f.write(J.encode_jpeg_progressive(arr))
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(p))
    assert img is not None and (img.getWidth(), img.getHeight()) == (40, 32)
    ras = img.getRaster()
    ours = J.decode_jpeg(open(p, "rb").read())
    diffs = [
        abs(ras.getSample(xx, yy, 0) - int(ours[yy, xx]))
        for (yy, xx) in [(0, 0), (10, 16), (31, 39), (7, 5), (20, 33)]
    ]
    assert max(diffs) <= 2  # independent IDCTs may differ by a hair
    os.unlink(p)


# ------------------------------------------------------- restart markers


@pytest.mark.parametrize("ri", [1, 2, 3, 7])
def test_restart_interval_roundtrip(ri):
    """DRI/RSTn: byte-aligned boundaries every ri MCUs with predictor
    reset — decode must equal the non-restart encoding of the same image
    bit-for-bit (coefficients are unchanged by restarts)."""
    rng = np.random.default_rng(ri)
    for shape, sub in [((32, 40), "444"), ((32, 48, 3), "420")]:
        arr = rng.integers(0, 256, shape, dtype=np.uint8)
        base = J.decode_jpeg(J.encode_jpeg(arr, subsampling=sub))
        b = J.encode_jpeg(arr, subsampling=sub, restart_interval=ri)
        assert b"\xff\xdd" in b
        assert (J.decode_jpeg(b) == base).all()


def test_restart_marker_out_of_sequence_rejected():
    arr = np.zeros((32, 40), dtype=np.uint8)
    b = bytearray(J.encode_jpeg(arr, restart_interval=1))
    i = bytes(b).find(b"\xff\xd0")
    assert i > 0
    b[i + 1] = 0xD5  # wrong sequence number
    with pytest.raises(ValueError, match="restart marker"):
        J.decode_jpeg(bytes(b))


def test_progressive_with_dri_rejected():
    arr = np.zeros((16, 16), dtype=np.uint8)
    b = bytearray(J.encode_jpeg_progressive(arr))
    i = bytes(b).find(b"\xff\xda")
    dri = b"\xff\xdd\x00\x04\x00\x02"
    with pytest.raises(ValueError, match="progressive"):
        J.decode_jpeg(bytes(b[:i]) + dri + bytes(b[i:]))


def test_java_reads_our_restart_files(spark):
    import os
    import tempfile

    jvm = spark._jvm
    rng = np.random.default_rng(4)
    arr = rng.integers(0, 256, (32, 40), dtype=np.uint8)
    for ri in (1, 3):
        b = J.encode_jpeg(arr, restart_interval=ri)
        p = tempfile.mktemp(suffix=".jpg")
        with open(p, "wb") as f:
            f.write(b)
        img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(p))
        assert img is not None
        ras = img.getRaster()
        ours = J.decode_jpeg(b)
        for (y, x) in [(0, 0), (10, 16), (31, 39), (7, 5)]:
            assert abs(ras.getSample(x, y, 0) - int(ours[y, x])) <= 2
        os.unlink(p)


# ----------------------------------------------------- pad-crop (odd dims)


def test_pad_crop_odd_dimensions_against_java(spark):
    """Real-world JPEGs are rarely MCU multiples: decode pads to whole
    MCUs and crops to the declared frame dims. Java writes odd-dim
    4:2:0 color files (dummy-block asymmetry between interleaved and
    non-interleaved scans); our progressive and baseline decodes of the
    same image must still agree bit-for-bit, at the exact frame size."""
    jvm = spark._jvm
    for (h, w) in [(30, 47), (29, 33), (17, 95)]:
        yy, xx = np.mgrid[0:h, 0:w]
        vals = np.stack(
            [(xx * 3) % 256, (yy * 5) % 256, ((xx + yy) * 2) % 256], axis=2
        ).astype(np.uint8)
        pp = _java_write_jpeg(jvm, vals, True)
        pb = _java_write_jpeg(jvm, vals, False)
        dp = J.decode_jpeg(open(pp, "rb").read())
        db = J.decode_jpeg(open(pb, "rb").read())
        assert dp.shape == (h, w, 3) == db.shape
        assert (dp == db).all()
        import os

        os.unlink(pp)
        os.unlink(pb)


def test_progressive_odd_420_nonflat_matches_baseline():
    """Review-caught corruption: non-interleaved AC scans must cover the
    TRUE ceil-block grid, not the MCU-padded grid — on 420 inputs whose
    dims are not multiples of 16, emitting padding blocks desyncs every
    spec decoder. Non-flat content at such dims must still match the
    baseline decode bit-for-bit."""
    rng = np.random.default_rng(6)
    for (h, w, sub) in [(24, 24, "420"), (30, 47, "420"), (17, 95, "420")]:
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        dp = J.decode_jpeg(J.encode_jpeg_progressive(arr, subsampling=sub))
        db = J.decode_jpeg(J.encode_jpeg(arr, subsampling=sub))
        assert dp.shape == (h, w, 3) and (dp == db).all()


def test_java_reads_our_odd_420_progressive(spark):
    """The true-grid AC scans must also satisfy an independent decoder."""
    import os
    import tempfile

    jvm = spark._jvm
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    p = tempfile.mktemp(suffix=".jpg")
    with open(p, "wb") as f:
        f.write(J.encode_jpeg_progressive(arr, subsampling="420"))
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(p))
    assert img is not None and (img.getWidth(), img.getHeight()) == (24, 24)
    ours = J.decode_jpeg(open(p, "rb").read())
    for (yy, xx) in [(0, 0), (12, 12), (23, 23)]:
        rgb = img.getRGB(xx, yy)
        jpx = np.array([(rgb >> 16) & 255, (rgb >> 8) & 255, rgb & 255])
        assert np.abs(jpx - ours[yy, xx].astype(int)).max() <= 24  # upsample diff
    os.unlink(p)


def test_restart_marker_without_dri_rejected():
    """An RSTn in a stream whose frame declared NO restart interval is
    corruption — the decoder must dead-letter, not zero-pad onward
    (review-caught silent-garbage path)."""
    rng = np.random.default_rng(8)
    arr = rng.integers(0, 256, (32, 40), dtype=np.uint8)
    b = bytearray(J.encode_jpeg(arr, restart_interval=2))
    i = bytes(b).find(b"\xff\xdd")
    del b[i : i + 6]  # strip the DRI segment, keep the RSTn boundaries
    with pytest.raises(ValueError, match="unexpected marker"):
        J.decode_jpeg(bytes(b))


def test_spark_stats_survive_odd_dims_and_malformed(spark):
    """decode_jpegs: arbitrary-dimension decodables get partial-block
    stats (not a reshape crash), malformed segments dead-letter as NULL
    rows (incl. IndexError paths) — one bad payload never fails the
    batch."""
    import pandas as _pd

    rng = np.random.default_rng(9)
    odd = J.encode_jpeg(rng.integers(0, 256, (20, 20), dtype=np.uint8))
    good = J.encode_jpeg(_blocky(2, 2))
    bad_sof = bytearray(good)
    i = bytes(bad_sof).find(b"\xff\xc0")
    bad_sof[i + 2 : i + 4] = (2).to_bytes(2, "big")  # empty SOF body
    df = spark.createDataFrame(
    _pd.DataFrame({"doc_id": [1, 2, 3],
                   "jpeg": [odd, good, bytes(bad_sof)]})
    )
    rows = {r["doc_id"]: r for r in J.decode_jpegs(df).collect()}
    assert rows[1]["codec"] == "jpeg" and rows[1]["width"] == 20
    assert rows[2]["codec"] == "jpeg"
    assert rows[3]["codec"] is None  # dead-lettered, batch survived
    # partial-block checksum: 20x20 -> 3x3 block grid, edge blocks 8x4/4x8/4x4
    arr = J.decode_jpeg(odd)
    h = w = 20
    tot = 0.0
    for by in range(3):
        for bx in range(3):
            blk = arr[by * 8 : min((by + 1) * 8, h), bx * 8 : min((bx + 1) * 8, w)]
            tot += np.floor(blk.mean() * (bx + 2 * by + 1) + 0.5)
    assert rows[1]["block_checksum"] == int(tot)


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=70),
    st.integers(min_value=1, max_value=70),
    st.sampled_from([1, 3]),
    st.sampled_from(["444", "420"]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_progressive_equals_baseline_property(h, w, c, sub, seed):
    """Property: for ANY dims/channels/subsampling/content, the
    spectral-selection progressive stream decodes identically to the
    baseline stream (same coefficients by construction). Catches scan
    grid / EOB / padding slips on shapes no hand-picked case covers."""
    rng = np.random.default_rng(seed)
    shape = (h, w) if c == 1 else (h, w, c)
    arr = rng.integers(0, 256, shape, dtype=np.uint8)
    dp = J.decode_jpeg(J.encode_jpeg_progressive(arr, subsampling=sub))
    db = J.decode_jpeg(J.encode_jpeg(arr, subsampling=sub))
    assert dp.shape == db.shape and (dp == db).all()


# -------------------------------------------- distributed segment decode


def test_plan_jpeg_restart_segments_shape():
    rng = np.random.default_rng(10)
    arr = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    b = J.encode_jpeg(arr, restart_interval=7)
    plan = J.plan_jpeg_restart_segments(b)
    assert plan is not None and len(plan) == -(-64 // 7)  # ceil(n_mcu/ri)
    # task byte economy: header + segment ≪ whole file for every task
    header_len = len(plan[0][1])
    assert all(len(p[1]) == header_len for p in plan)
    assert sum(len(p[2]) for p in plan) < len(b)
    lo_hi = [(p[3], p[4]) for p in plan]
    assert lo_hi[0][0] == 0 and lo_hi[-1][1] == 64
    assert all(a[1] == b2[0] for a, b2 in zip(lo_hi, lo_hi[1:]))  # exact cover
    # no restarts -> no plan
    assert J.plan_jpeg_restart_segments(J.encode_jpeg(arr)) is None


@pytest.mark.parametrize(
    "shape,sub,ri",
    [((128, 160), "444", 10), ((96, 128, 3), "420", 4), ((30, 47, 3), "420", 2)],
)
def test_distributed_decode_equals_single_task(spark, shape, sub, ri):
    """Segment-level Spark decode of ONE image must be bit-identical to
    the single-task decode — restart boundaries reset DC predictors, so
    every inter-restart segment is independent (the GPU decoders' seam,
    re-expressed as tasks; read_ocf_split's pattern over a code stream)."""
    rng = np.random.default_rng(sum(shape))
    arr = rng.integers(0, 256, shape, dtype=np.uint8)
    b = J.encode_jpeg(arr, subsampling=sub, restart_interval=ri)
    single = J.decode_jpeg(b)
    dist = J.decode_jpeg_distributed(spark, b)
    assert dist.shape == single.shape and (dist == single).all()


def test_distributed_decode_falls_back_without_restarts(spark):
    rng = np.random.default_rng(11)
    b = J.encode_jpeg(rng.integers(0, 256, (32, 40), dtype=np.uint8))
    assert (J.decode_jpeg_distributed(spark, b) == J.decode_jpeg(b)).all()


def test_truncated_restart_stream_raises_in_both_paths(spark):
    """A DRI stream cut short must dead-letter (ValueError), not decode
    the missing MCUs as zero-filled blocks: cut at a restart boundary
    (whole trailing segments gone) and inside the last segment."""
    rng = np.random.default_rng(12)
    b = J.encode_jpeg(rng.integers(0, 256, (64, 64), dtype=np.uint8), restart_interval=2)
    last_rst = max(i for i in range(len(b) - 1) if b[i] == 0xFF and 0xD0 <= b[i + 1] <= 0xD7)
    at_boundary = b[:last_rst] + b"\xff\xd9"
    mid_segment = b[: len(b) - 12] + b"\xff\xd9"
    for cut in (at_boundary, mid_segment):
        with pytest.raises(ValueError):
            J.decode_jpeg(cut)
        with pytest.raises(ValueError):
            J.decode_jpeg_distributed(spark, cut)
    assert (J.decode_jpeg_distributed(spark, b) == J.decode_jpeg(b)).all()
