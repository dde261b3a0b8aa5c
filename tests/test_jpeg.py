"""Baseline JPEG codec kernel + Spark verbs.

The decoder (`operators/jpeg.py`) is a REAL dependency-free baseline
JPEG implementation — marker walk, DHT canonical Huffman rebuild, DC
DPCM + AC run-length entropy decode across restart markers, dequant,
8x8 IDCT, YCbCr->RGB. Tests pin it three independent ways: exact
roundtrip of block-constant fixtures (predictable from the generator
formula), agreement with an explicit cosine-sum IDCT reference on
arbitrary injected AC coefficients, and explicit rejection of stream
families the decoder does not implement.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from airflow_crypto_etl_spark.operators import jpeg as J
from airflow_crypto_etl_spark.operators import multimodal as mm


def _block_value(doc_id: int, bx: int, by: int) -> int:
    return 2 * ((doc_id * 7 + by * 5 + bx * 3) % 128)


def test_gray_block_constant_roundtrip_exact():
    """Even block-constant images survive the lossy pipeline exactly
    (DC = 8*(v-128) divisible by the luminance DC quantum 16)."""
    for doc_id in (0, 1, 7, 123, 499):
        w, h = 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)
        ww, hh, nc, px = J.decode_jpeg_bytes(J.make_jpeg(doc_id, w, h))
        assert (ww, hh, nc) == (w, h, 1)
        arr = np.frombuffer(px, np.uint8).reshape(h, w)
        for by in range(h // 8):
            for bx in range(w // 8):
                blk = arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (blk == _block_value(doc_id, bx, by)).all()


def test_restart_markers_present_and_required():
    """The fixture really emits RSTn markers (DRI=2), and the decoder
    resets DC predictors at each — corrupting one RST byte fails."""
    b = J.make_jpeg(123, 24, 16, restart_interval=2)
    assert b.count(b"\xff\xd0") + b.count(b"\xff\xd1") + b.count(b"\xff\xd2") >= 2
    bad = bytearray(b)
    i = bad.find(b"\xff\xd0")
    if i < 0:
        i = bad.find(b"\xff\xd1")
    bad[i + 1] = 0xD7  # wrong restart index
    with pytest.raises(ValueError, match="expected RST"):
        J.decode_jpeg_bytes(bytes(bad))


def test_color_constant_roundtrip_exact():
    """4:4:4 color frame: Y quantizes exactly (even), Cb/Cr exactly
    (offset multiples of the chroma DC quantum 17); decoded RGB equals
    the JFIF conversion formulas applied to the constant planes —
    exercises chroma table SELECTION (DC1/AC1/quant 1), not just parse."""
    y, cb, cr = 100, 145, 94  # 145 = 128+17, 94 = 128-34
    w, h = 16, 8
    ww, hh, nc, px = J.decode_jpeg_bytes(J.make_jpeg_color(y, cb, cr, w, h))
    assert (ww, hh, nc) == (w, h, 3)
    arr = np.frombuffer(px, np.uint8).reshape(h, w, 3)
    exp_r = round(y + 1.402 * (cr - 128))
    exp_g = round(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
    exp_b = round(y + 1.772 * (cb - 128))
    assert (arr[..., 0] == exp_r).all()
    assert (arr[..., 1] == exp_g).all()
    assert (arr[..., 2] == exp_b).all()


def _reference_idct(coef: np.ndarray) -> np.ndarray:
    """Independent explicit cosine-sum IDCT (T.81 A.3.3), no shared code
    with the decoder's matrix form."""
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coef[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[x, y] = s / 4
    return out


def test_ac_coefficients_vs_independent_idct():
    """Arbitrary quantized coefficient blocks (random AC positions, a
    final zz[63] forcing long zero runs through ZRL) decode to exactly
    the dequant+IDCT+shift of the injected truth, per-MCU restarts on."""
    rng = np.random.RandomState(42)
    qblocks = []
    for _ in range(4):
        zz = [0] * 64
        zz[0] = int(rng.randint(-40, 40))
        for k in rng.choice(range(1, 64), 6, replace=False):
            zz[int(k)] = int(rng.randint(-8, 9))
        zz[63] = 2  # forces run>15 -> ZRL path
        qblocks.append(zz)
    b = J.encode_gray_coeff_blocks(qblocks, 16, 16, restart_interval=1)
    _, _, _, px = J.decode_jpeg_bytes(b)
    arr = np.frombuffer(px, np.uint8).reshape(16, 16)
    for m, zz in enumerate(qblocks):
        coef = np.zeros((8, 8))
        for i in range(64):
            coef[divmod(J.ZIGZAG[i], 8)] = zz[i] * J.QUANT_LUM[J.ZIGZAG[i]]
        exp = np.clip(np.rint(_reference_idct(coef) + 128), 0, 255)
        my, mx = divmod(m, 2)
        assert (arr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] == exp).all()


def test_rejections_are_explicit():
    good = J.make_jpeg(5, 8, 8)
    with pytest.raises(ValueError, match="SOI"):
        J.decode_jpeg_bytes(b"\x00\x00" + good[2:])
    # progressive frame marker (SOF2) is rejected, not mis-decoded
    prog = good.replace(struct.pack(">H", 0xFFC0), struct.pack(">H", 0xFFC2), 1)
    with pytest.raises(ValueError, match="non-baseline"):
        J.decode_jpeg_bytes(prog)
    # subsampling: patch the SOF sampling byte (0x11 -> 0x22)
    sof_at = good.find(struct.pack(">H", 0xFFC0))
    sub = bytearray(good)
    sub[sof_at + 11] = 0x22  # component 1 H/V nibbles
    with pytest.raises(ValueError, match="subsampled"):
        J.decode_jpeg_bytes(bytes(sub))
    # corrupt entropy data -> invalid Huffman code or marker error
    trunc = good[: good.rfind(b"\xff\xd9") - 1]
    with pytest.raises(ValueError):
        J.decode_jpeg_bytes(trunc)


@pytest.mark.parametrize(
    "stream",
    [J.make_jpeg(5, 8, 8), J.make_jpeg_color(64, 94, 111, 8, 8)],
    ids=["gray_320B", "color_612B"],
)
def test_every_truncation_raises_value_error(stream):
    """Cut the stream after every byte: each prefix that loses any of
    the header segments or the entropy scan raises the decoder's own
    ValueError (never IndexError/struct.error), chained to the parser's
    original error where one was raised. A cut inside the trailing EOI
    marker loses no data; those prefixes decode to the full image."""
    full = J.decode_jpeg_bytes(stream)
    eoi = stream.rfind(b"\xff\xd9")
    for n in range(len(stream)):
        if n >= eoi:
            assert J.decode_jpeg_bytes(stream[:n]) == full
            continue
        with pytest.raises(ValueError) as err:
            J.decode_jpeg_bytes(stream[:n])
        cause = err.value.__cause__
        assert cause is None or isinstance(cause, (IndexError, struct.error)), n


def test_scan_lut_cache_is_bounded_fifo(monkeypatch):
    """Distinct DHT tables beyond the bound evict the oldest entry; an
    evicted table is rebuilt identically on its next use (re-fill), and
    decoding keeps working through the churn."""
    monkeypatch.setattr(J, "_SCAN_LUT_CACHE", {})
    cap = J._SCAN_LUT_CACHE_MAX
    bits = bytes([0] * 7 + [1] + [0] * 8)  # one 8-bit code, symbol v
    key = lambda v: bits + b"\x00" + bytes([v])  # noqa: E731  (_scan_luts' key)
    first = J._scan_luts(bits, bytes([0]))
    for v in range(1, cap + 1):
        J._scan_luts(bits, bytes([v]))
    assert list(J._SCAN_LUT_CACHE) == [key(v) for v in range(1, cap + 1)]  # 0 evicted
    assert J._scan_luts(bits, bytes([0])) == first  # re-fill evicts the next oldest
    assert list(J._SCAN_LUT_CACHE) == [key(v) for v in range(2, cap + 1)] + [key(0)]
    w, h, _, _ = J.decode_jpeg_bytes(J.make_jpeg(5, 8, 8))
    assert (w, h) == (8, 8) and len(J._SCAN_LUT_CACHE) == cap


def test_decode_jpeg_verb_matches_formula(spark):
    """Spark-side verb: attach per-id fixtures, decode via mapInPandas,
    compare px_mean to the block-value average the SQL oracle uses."""
    docs = spark.createDataFrame([(0,), (7,), (123,)], "doc_id long")
    rows = {r["doc_id"]: r for r in J.decode_jpeg(J.attach_jpeg_payload(docs)).collect()}
    for d in (0, 7, 123):
        bw, bh = 1 + d % 3, 1 + d % 2
        exp_mean = sum(
            _block_value(d, bx, by) for by in range(bh) for bx in range(bw)
        ) / (bw * bh)
        r = rows[d]
        assert (r["width"], r["height"], r["n_components"]) == (bw * 8, bh * 8, 1)
        assert r["n_px_bytes"] == bw * 8 * bh * 8
        assert r["px_mean"] == exp_mean


def test_unified_dispatch_decodes_all_three_formats(spark):
    """decode_payload routes PPM, PNG and JPEG payloads by magic bytes
    to the right kernel in one pass over a mixed binary column."""
    docs = spark.createDataFrame([(3,), (4,), (5,)], "doc_id long")
    mixed = (
        mm.attach_ppm_payload(docs.where("doc_id = 3"))
        .unionByName(mm.attach_png_payload(docs.where("doc_id = 4")))
        .unionByName(J.attach_jpeg_payload(docs.where("doc_id = 5")))
    )
    out = {r["doc_id"]: r for r in mm.decode_payload(mixed).collect()}
    assert out[3]["format"] == "ppm" and out[3]["n_components"] == 3
    assert out[4]["format"] == "png" and out[4]["n_components"] == 3
    assert out[5]["format"] == "jpeg" and out[5]["n_components"] == 1
    # geometry from each generator's formula
    assert (out[3]["width"], out[3]["height"]) == (4 + 3 % 5, 3 + 3 % 4)
    assert (out[4]["width"], out[4]["height"]) == (4 + 4 % 5, 3 + 4 % 4)
    assert (out[5]["width"], out[5]["height"]) == (8 * (1 + 5 % 3), 8 * (1 + 5 % 2))


def test_decode_jpeg_arrow_pandas_agreement(spark, sf_dir):
    """The mapInArrow decode (the registered path) must be bit-identical
    to the mapInPandas twin — same kernel, different batch surface."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").limit(40)
    payload = J.attach_jpeg_payload(docs)
    arrow = {r["doc_id"]: tuple(r) for r in J.decode_jpeg(payload).collect()}
    pandas = {r["doc_id"]: tuple(r) for r in J.decode_jpeg_pandas(payload).collect()}
    assert arrow == pandas and len(arrow) == 40
