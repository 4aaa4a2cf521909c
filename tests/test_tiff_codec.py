"""Real TIFF codec (operators/tiff_codec.py).

Conformance is checked two independent ways, the Avro-OCF convention:

1. Pure-Python round-trips across the full envelope (compression ×
   predictor × channels × byte order × strip counts) + structural
   damage rejection.
2. INTEROP with the JDK's built-in ImageIO TIFF plugin on Spark's JVM:
   our files read by Java (raw raster samples — ``getRGB`` would apply
   a gray→sRGB transfer curve), and Java-written LZW/ZLib/PackBits
   files read by our decoder. The LZW early-change width timing is
   pinned by exactly this pair (the off-by-one variant self-roundtrips
   but misparses Java streams — see ``_lzw_decode``).
"""

import hashlib
import os
import tempfile

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nvimagecodec_spark.operators.tiff_codec import (
    TIFF_COMPRESSIONS,
    _lzw_decode,
    _lzw_encode,
    _packbits_decode,
    _packbits_encode_row,
    _read_ifd,
    attach_tiffs,
    decode_tiff,
    decode_tiffs,
    encode_tiff,
)


# ------------------------------------------------------------ pure python


@pytest.mark.parametrize("n", [0, 1, 10, 300, 5000, 80000])
def test_lzw_roundtrip(n):
    rng = np.random.default_rng(n + 1)
    for lo_hi in ((0, 256), (0, 4)):  # high + low entropy (long phrases)
        d = bytes(rng.integers(*lo_hi, n, dtype=np.uint8))
        assert _lzw_decode(_lzw_encode(d)) == d


def test_lzw_crosses_every_width_and_table_reset():
    """300k random bytes force 9→10→11→12-bit codes and ≥1 table reset."""
    rng = np.random.default_rng(42)
    d = bytes(rng.integers(0, 256, 300_000, dtype=np.uint8))
    enc = _lzw_encode(d)
    assert _lzw_decode(enc) == d
    assert len(enc) > 4096 * 12 // 8  # long enough to have reset


@pytest.mark.parametrize("n", [0, 1, 5, 128, 129, 1000])
def test_packbits_roundtrip(n):
    rng = np.random.default_rng(n)
    d = bytes(rng.integers(0, 3, n, dtype=np.uint8))
    assert _packbits_decode(_packbits_encode_row(d)) == d


@pytest.mark.parametrize("ch", [1, 3, 4])
@pytest.mark.parametrize("comp", TIFF_COMPRESSIONS)
def test_tiff_roundtrip(ch, comp):
    rng = np.random.default_rng(ch)
    for pred in (1, 2) if comp in ("lzw", "deflate") else (1,):
        for le in (True, False):
            for rps in (5, 16, 1000):
                arr = rng.integers(0, 256, (37, 53, ch), dtype=np.uint8)
                b = encode_tiff(
                    arr, compression=comp, predictor=pred,
                    rows_per_strip=rps, little_endian=le,
                )
                back = decode_tiff(b)
                assert back.shape == arr.shape and (back == arr).all()


def test_decode_rejects_out_of_envelope():
    arr = np.zeros((8, 8, 3), dtype=np.uint8)
    b = bytearray(encode_tiff(arr, compression="none"))
    with pytest.raises(ValueError):
        decode_tiff(b"NOPE")
    with pytest.raises(ValueError):
        decode_tiff(b[:20])  # truncated mid-IFD
    # unknown compression tag
    bad = bytearray(b)
    tags, _ = _read_ifd(bytes(bad))
    assert tags[259] == [1]
    idx = bytes(bad).find((259).to_bytes(2, "little"))
    bad[idx + 8] = 99
    with pytest.raises(ValueError):
        decode_tiff(bytes(bad))


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_damage_fuzz_never_misdecodes_silently(seed):
    """Random byte damage either raises ValueError or yields a same-shape
    array — never an interpreter crash / shape explosion."""
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (12, 17, 3), dtype=np.uint8)
    comp = TIFF_COMPRESSIONS[seed % 4]
    b = bytearray(encode_tiff(arr, compression=comp))
    pos = int(rng.integers(0, len(b)))
    b[pos] = int(rng.integers(0, 256))
    try:
        out = decode_tiff(bytes(b))
        assert out.dtype == np.uint8 and out.size <= 64 * 64 * 4 * 16
    except (ValueError, OverflowError, MemoryError):
        pass


def test_real_decode_probes_tiff():
    from nvimagecodec_spark.operators.multimodal import _real_decode

    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    for le in (True, False):
        got, codec = _real_decode(encode_tiff(arr, little_endian=le))
        assert codec == "tiff" and (got == arr).all()


# ------------------------------------------------------------ JDK interop


def _java_write_tiff(jvm, vals, jcomp):
    h, w = vals.shape
    bi = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    )
    r = bi.getRaster()
    for y in range(h):
        for x in range(w):
            r.setSample(x, y, 0, int(vals[y, x]))
    wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("TIFF").next()
    p = tempfile.mktemp(suffix=".tif")
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(jvm.java.io.File(p))
    wr.setOutput(ios)
    param = wr.getDefaultWriteParam()
    param.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType(jcomp)
    wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
    ios.close()
    return p


@pytest.mark.parametrize("comp", TIFF_COMPRESSIONS)
def test_java_reads_our_files(spark, comp):
    jvm = spark._jvm
    rng = np.random.default_rng(5)
    for ch in (1, 3):
        for pred in (1, 2) if comp in ("lzw", "deflate") else (1,):
            arr = rng.integers(0, 256, (21, 33, ch), dtype=np.uint8)
            p = tempfile.mktemp(suffix=".tif")
            with open(p, "wb") as f:
                f.write(encode_tiff(arr, compression=comp, predictor=pred))
            img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(p))
            assert img is not None, (comp, ch, pred)
            assert (img.getWidth(), img.getHeight()) == (33, 21)
            ras = img.getRaster()
            for (yy, xx) in [(0, 0), (0, 32), (20, 0), (20, 32), (10, 16), (7, 5)]:
                for c in range(ch):
                    assert ras.getSample(xx, yy, c) == int(arr[yy, xx, c]), (
                        comp, ch, pred, yy, xx, c,
                    )
            os.unlink(p)


@pytest.mark.parametrize("jcomp,tag", [("LZW", 5), ("ZLib", 8), ("PackBits", 32773)])
def test_our_decoder_reads_java_files(spark, jcomp, tag):
    jvm = spark._jvm
    rng = np.random.default_rng(9)
    vals = rng.integers(0, 8, (48, 64), dtype=np.int64)
    p = _java_write_tiff(jvm, vals, jcomp)
    b = open(p, "rb").read()
    tags, _ = _read_ifd(b)
    assert tags[259] == [tag]
    arr = decode_tiff(b)
    assert (arr[:, :, 0] == vals).all()
    os.unlink(p)


# ------------------------------------------------------------ Spark plane


def test_spark_attach_decode_matches_recompute(spark):
    docs = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(40)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in decode_tiffs(attach_tiffs(docs)).collect()}
    assert len(out) == 40
    comps = set()
    for i in range(40):
        md5 = hashlib.md5(f"document body {i}".encode()).hexdigest()
        w = int(md5[0:2], 16) % 48 + 16
        h = int(md5[2:4], 16) % 48 + 16
        s = int(md5[4:6], 16)
        ch = {0: 1, 1: 3, 2: 4}[int(md5[8], 16) % 3]
        comp = TIFF_COMPRESSIONS[int(md5[9], 16) % 4]
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        c = np.arange(ch)[None, None, :]
        a = (s + 3 * x + 7 * y + 11 * c) % 256
        r = out[i]
        assert (r["width"], r["height"], r["channels"]) == (w, h, ch)
        assert r["codec"] == f"tiff-{comp}"
        assert r["px_sum"] == int(a.sum())
        assert r["px_wsum"] == int((a * (x + 2 * y + 3 * c)).sum())
        assert r["c0_sum"] == int(a[:, :, 0].sum())
        comps.add(comp)
    assert comps == set(TIFF_COMPRESSIONS)  # fixture really cycles all four


def test_encode_dimensions_above_short_range():
    """ImageWidth/ImageLength/RowsPerStrip are written as LONG, so a
    dimension past 65535 encodes (SHORT would overflow in struct.pack)."""
    arr = (np.arange(70_000) % 251).astype(np.uint8).reshape(1, 70_000)
    b = encode_tiff(arr, compression="deflate", rows_per_strip=70_000)
    tags = _read_ifd(b)[0]
    assert (tags[256], tags[257], tags[278]) == ([70_000], [1], [70_000])
    back = decode_tiff(b)
    assert back.shape == (1, 70_000, 1) and (back[:, :, 0] == arr).all()


def _with_compression_tag(b: bytes, value: int) -> bytes:
    """Little-endian TIFF with its Compression (259) value overwritten."""
    out = bytearray(b)
    ifd = int.from_bytes(out[4:8], "little")
    for i in range(int.from_bytes(out[ifd : ifd + 2], "little")):
        e = ifd + 2 + 12 * i
        if int.from_bytes(out[e : e + 2], "little") == 259:
            out[e + 8 : e + 10] = value.to_bytes(2, "little")
    return bytes(out)


def test_spark_decode_dead_letters_bad_rows(spark):
    """A malformed payload or an unknown compression tag yields a NULL
    stats row for that document; the rest of the batch decodes."""
    good = encode_tiff(np.full((4, 5), 9, dtype=np.uint8), compression="none")
    unknown = _with_compression_tag(good, 7)  # 7 = JPEG: not supported
    with pytest.raises(ValueError):
        decode_tiff(unknown)
    df = spark.createDataFrame(
        [(1, good), (2, b"II*\x00garbage"), (3, unknown)], "doc_id long, image binary"
    )
    out = {r["doc_id"]: r for r in decode_tiffs(df).collect()}
    assert (out[1]["codec"], out[1]["width"], out[1]["px_sum"]) == ("tiff-none", 5, 180)
    for did in (2, 3):
        assert out[did]["codec"] is None and out[did]["px_sum"] is None
