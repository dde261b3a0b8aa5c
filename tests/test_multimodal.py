"""Multimodal binary plumbing: schema, payload/metadata split, and the
Arrow-batched mapInPandas feature path (PPM, PNG and baseline JPEG decode
are all real dependency-free kernels; only WebP/video stay lib-gated)."""

from __future__ import annotations

import pytest

from airflow_crypto_etl_spark.operators import gif as gf
from airflow_crypto_etl_spark.operators import jpeg as jp
from airflow_crypto_etl_spark.operators import multimodal as mm
from airflow_crypto_etl_spark.operators.layout import widen
from airflow_crypto_etl_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def payloads(spark, sf_dir):
    return mm.attach_payload(load_table(spark, sf_dir, "documents"))


def test_payload_schema(payloads):
    types = {f.name: f.dataType.simpleString() for f in payloads.schema.fields}
    assert types["payload"] == "binary"
    assert types["meta"].startswith("struct<mime:string,n_bytes:bigint")


def test_split_payload_keeps_metadata_narrow(payloads):
    meta, heavy = mm.split_payload(payloads)
    assert set(meta.columns) == {"doc_id", "meta"}
    assert set(heavy.columns) == {"doc_id", "payload"}


def test_extract_features_mapinpandas(spark, sf_dir, payloads):
    feats = mm.extract_features(payloads)
    rows = {r["doc_id"]: r for r in feats.collect()}
    docs = {r["doc_id"]: r for r in load_table(spark, sf_dir, "documents").collect()}
    assert len(rows) == len(docs)
    some = next(iter(docs))
    assert rows[some]["n_bytes"] == len(docs[some]["text"].encode())
    assert len(rows[some]["head_feature"]) == 8
    assert 0.0 <= rows[some]["byte_mean"] <= 255.0


def test_unknown_format_gated_and_skippable(payloads):
    # utf-8 text payloads match no native kernel: error by default,
    # dropped under on_unknown="skip" (the mixed-corpus ingest mode)
    with pytest.raises(Exception, match="no native decode kernel"):
        mm.decode_payload(payloads).collect()
    assert mm.decode_payload(payloads, on_unknown="skip").count() == 0


def _expected_gray(doc_id, w, h, out_w, out_h):
    """Mirror of resize_payload's NN sampling on the generator formula
    (raw pixel byte i = (doc_id + i) mod 256, RGB)."""
    px = []
    for y in range(out_h):
        sy = y * h // out_h
        for x in range(out_w):
            sx = x * w // out_w
            o = (sy * w + sx) * 3
            px.append(sum((doc_id + o + c) % 256 for c in range(3)) / 3)
    return px


def test_resize_payload_real_pixels(spark):
    """The resize verb operates on DECODED pixels: its output equals the
    NN-resample predicted from the PNG generator formula — a byte-slicing
    stand-in could not reproduce this."""
    docs = spark.createDataFrame([(7,), (12,), (123,)], "doc_id long")
    png = mm.attach_png_payload(docs)
    rows = {r["doc_id"]: r for r in mm.resize_payload(png, out_w=4, out_h=4).collect()}
    for d in (7, 12, 123):
        w, h = 4 + d % 5, 3 + d % 4
        assert rows[d]["pixels"] == _expected_gray(d, w, h, 4, 4)
    # deterministic across runs
    again = {r["doc_id"]: r["pixels"] for r in mm.resize_payload(png, 4, 4).collect()}
    assert all(again[d] == rows[d]["pixels"] for d in again)


def test_sample_frames_real_scanlines(spark):
    """Every sampled frame is a real decoded scanline: bytes equal the
    generator formula for that row, fan-out ordered per doc."""
    docs = spark.createDataFrame([(7,), (14,)], "doc_id long")
    png = mm.attach_png_payload(docs)
    rows = mm.sample_frames(png, every=2).collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rs in by_doc.items():
        w, h = 4 + d % 5, 3 + d % 4
        stride = w * 3
        rs.sort(key=lambda r: r["frame_no"])
        assert [r["frame_no"] for r in rs] == list(range(len(rs)))
        assert [r["row_index"] for r in rs] == list(range(0, h, 2))
        for r in rs:
            expect = bytes((d + r["row_index"] * stride + j) % 256 for j in range(stride))
            assert bytes(r["frame"]) == expect
            assert r["n_bytes"] == stride
            assert r["byte_mean"] == sum(expect) / len(expect)


def test_make_ppm_roundtrip_decode(spark):
    """decode_ppm genuinely parses the binary: header fields, pixel
    count, and pixel mean all recovered from bytes alone."""
    docs = spark.createDataFrame([(7,), (12,)], "doc_id long")
    decoded = {r.doc_id: r for r in mm.decode_ppm(mm.attach_ppm_payload(docs)).collect()}
    r7 = decoded[7]
    assert (r7.width, r7.height, r7.maxval) == (4 + 7 % 5, 3 + 7 % 4, 255)
    n = r7.width * r7.height * 3
    assert r7.n_px_bytes == n
    assert r7.px_mean == sum((7 + i) % 256 for i in range(n)) / n


def test_decode_ppm_handles_comments_and_whitespace(spark):
    """Netpbm allows comment lines and arbitrary whitespace in the
    header — the parser must skip them, not mis-offset the pixels."""
    raw = b"P6\n# a comment\n 3\t2 # trailing\n255\n" + bytes(range(18))
    pdf = spark.createDataFrame([(1, bytearray(raw))], "doc_id long, payload binary")
    r = mm.decode_ppm(pdf).collect()[0]
    assert (r.width, r.height, r.maxval, r.n_px_bytes) == (3, 2, 255, 18)
    assert r.px_mean == sum(range(18)) / 18


def test_decode_ppm_rejects_garbage(spark):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    pdf = spark.createDataFrame([(1, bytearray(b"JFIF...."))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="not a P6|PythonException|Py4J"):
        mm.decode_ppm(pdf).collect()


def test_make_png_roundtrip_decode(spark):
    """The PNG generator cycles scanline filters 0-4, so a correct
    round-trip proves Sub/Up/Average/Paeth de-filtering, multi-chunk
    IDAT reassembly, and CRC verification all at once."""
    pdf = spark.createDataFrame([(i,) for i in (0, 3, 7, 11, 42)], "doc_id long")
    out = {r.doc_id: r for r in mm.decode_png(mm.attach_png_payload(pdf)).collect()}
    for i in (0, 3, 7, 11, 42):
        w, h = 4 + i % 5, 3 + i % 4
        n = w * h * 3
        r = out[i]
        assert (r.width, r.height, r.bit_depth, r.color_type, r.n_px_bytes) == (w, h, 8, 2, n)
        assert r.px_mean == sum((i + j) % 256 for j in range(n)) / n


def test_decode_png_grayscale_and_rgba(spark):
    """Gray (bpp=1) and RGBA (bpp=4) change the filter byte-distance —
    decode must honor the per-color-type bpp."""
    import struct
    import zlib

    def png(ctype, bpp, w, h, seed):
        stride = w * bpp
        raw = bytes((seed + i) % 256 for i in range(stride * h))
        body = bytearray()
        prev = bytes(stride)
        for r in range(h):
            row = raw[r * stride : (r + 1) * stride]
            body.append(1)  # Sub filter everywhere: exercises bpp offset
            for x, v in enumerate(row):
                a = row[x - bpp] if x >= bpp else 0
                body.append((v - a) % 256)
            prev = row

        def chunk(tag, data):
            return struct.pack(">I", len(data)) + tag + data + struct.pack(
                ">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(body))) + chunk(b"IEND", b""))

    # doc_id doubles as the color type for easy assertion lookup
    rows = [(0, bytearray(png(0, 1, 5, 4, 9))), (6, bytearray(png(6, 4, 3, 2, 20)))]
    pdf = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in mm.decode_png(pdf).collect()}
    assert (got[0].color_type, got[0].n_px_bytes) == (0, 20)
    assert got[0].px_mean == sum((9 + i) % 256 for i in range(20)) / 20
    assert (got[6].color_type, got[6].n_px_bytes) == (6, 24)
    assert got[6].px_mean == sum((20 + i) % 256 for i in range(24)) / 24


def test_decode_png_rejects_bad_crc_and_unsupported(spark):
    import pytest as _pytest

    good = mm.make_png(1, 4, 3)
    corrupt = bytearray(good)
    corrupt[-5] ^= 0xFF  # flip a CRC byte of IEND
    pdf = spark.createDataFrame([(1, corrupt)], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="bad CRC|PythonException|Py4J"):
        mm.decode_png(pdf).collect()
    pdf2 = spark.createDataFrame([(1, bytearray(b"JFIF....xxxx"))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="not a PNG|PythonException|Py4J"):
        mm.decode_png(pdf2).collect()


def test_binaryfile_media_ingest_matches_inmemory_decode(spark, tmp_path):
    """Files-on-disk ingest loop: PNG and PPM payloads written as real
    files, read back through the built-in binaryFile source
    (sources/media.read_media_dir), decoded by the unified dispatch —
    identical typed rows to the in-memory attach path, and the
    pathGlobFilter prunes non-matching files at the listing."""
    from airflow_crypto_etl_spark.sources.media import read_media_dir

    d = tmp_path / "media"
    d.mkdir()
    specs = {1: (5, 4), 2: (3, 7), 3: (6, 2)}
    for i, (w, h) in specs.items():
        (d / f"{i}.png").write_bytes(mm.make_png(i, w, h))
    (d / "10.ppm").write_bytes(mm.make_ppm(10, 4, 4))
    (d / "notes.txt").write_bytes(b"not media")

    every = read_media_dir(spark, str(d), glob="*.p*")  # png + ppm, not txt
    decoded = {r.doc_id: r for r in mm.decode_payload(every).collect()}
    assert set(decoded) == {1, 2, 3, 10}
    for i, (w, h) in specs.items():
        assert (decoded[i].format, decoded[i].width, decoded[i].height) == ("png", w, h)
    assert (decoded[10].format, decoded[10].width) == ("ppm", 4)

    # png-only glob never opens (or lists) the others
    pngs = read_media_dir(spark, str(d), glob="*.png")
    assert pngs.count() == 3

    # parity with the in-memory path over the SAME generator bytes
    rows = [(i, mm.make_png(i, w, h)) for i, (w, h) in specs.items()]
    pdf = spark.createDataFrame(rows, "doc_id long, payload binary")
    mem = {r.doc_id: r for r in mm.decode_payload(pdf).collect()}
    for i in specs:
        got, want = decoded[i], mem[i]
        assert (got.width, got.height, got.n_components, got.n_px_bytes, got.px_mean) == (
            want.width, want.height, want.n_components, want.n_px_bytes, want.px_mean
        )


def test_map_in_arrow_features_agree_with_pandas_path(spark):
    """mapInArrow twin must be bit-identical to the mapInPandas
    featurizer on the same payloads (incl. short-payload padding)."""
    rows = [(1, bytes([10, 20, 30])), (2, bytes(range(64))), (3, b"")]
    pdf = spark.createDataFrame(rows, "doc_id long, payload binary")
    a = {r.doc_id: r for r in mm.extract_features(pdf).collect()}
    b = {r.doc_id: r for r in mm.extract_features_arrow(pdf).collect()}
    assert set(a) == set(b) == {1, 2, 3}
    for i in a:
        assert a[i].n_bytes == b[i].n_bytes
        assert a[i].byte_mean == b[i].byte_mean
        assert a[i].head_feature == b[i].head_feature
    assert a[3].n_bytes == 0 and a[3].head_feature == [0.0] * 8


def test_make_wav_roundtrip_decode(spark):
    """decode_wav genuinely parses RIFF: fmt fields, sample count,
    exact integer mean and peak recovered from bytes alone."""
    docs = spark.createDataFrame([(7,), (12,)], "doc_id long")
    out = {r.doc_id: r for r in mm.decode_wav(mm.attach_wav_payload(docs)).collect()}
    for d in (7, 12):
        n = 50 + d % 20
        samples = [((d + 3 * i) % 65536) - 32768 for i in range(n)]
        r = out[d]
        assert (r.n_channels, r.sample_rate, r.bits, r.n_samples) == (1, 8000, 16, n)
        assert r.duration_s == n / 8000
        assert r.sample_mean == sum(samples) / n
        assert r.peak_abs == max(abs(s) for s in samples)


def test_decode_wav_rejects_garbage_and_non_pcm(spark):
    import struct

    import pytest as _pytest

    bad = spark.createDataFrame([(1, bytearray(b"RIFFxxxxAVI LIST"))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="not a RIFF/WAVE|PythonException|Py4J"):
        mm.decode_wav(bad).collect()
    # valid RIFF/WAVE but non-PCM codec id -> explicit NotImplementedError
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 16)  # mu-law
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 2) + b"\x00\x00"
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    ulaw = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="only 16-bit PCM|PythonException|Py4J"):
        mm.decode_wav(ulaw).collect()


def test_make_avi_roundtrip_frame_sampling(spark):
    """decode_avi_sampled genuinely walks RIFF and decodes real JPEG
    frames: counts, geometry, and the exact sampled-pixel mean all
    recovered from bytes alone."""
    docs = spark.createDataFrame([(5,), (10,)], "doc_id long")
    out = {r.doc_id: r for r in mm.decode_avi_sampled(mm.attach_avi_payload(docs), every=2).collect()}
    for d in (5, 10):
        nf, bw, bh = 2 + d % 4, 1 + d % 3, 1 + d % 2
        r = out[d]
        assert (r.n_frames, r.n_sampled, r.width, r.height) == (
            nf, (nf + 1) // 2, bw * 8, bh * 8
        )
        total = 0
        for si in range((nf + 1) // 2):
            seed = d + mm._AVI_FRAME_SEED_STEP * (2 * si)
            for by in range(bh):
                for bx in range(bw):
                    total += 64 * (2 * ((seed * 7 + by * 5 + bx * 3) % 128))
        assert r.px_mean == total / (((nf + 1) // 2) * bw * 8 * bh * 8)
    # every=1 samples all frames
    all_frames = {r.doc_id: r for r in mm.decode_avi_sampled(mm.attach_avi_payload(docs), every=1).collect()}
    for d in (5, 10):
        assert all_frames[d].n_sampled == all_frames[d].n_frames


def test_decode_avi_rejects_garbage(spark):
    import pytest as _pytest

    bad = spark.createDataFrame([(1, bytearray(b"RIFFxxxxWAVEdata"))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="not a RIFF/AVI|PythonException|Py4J"):
        mm.decode_avi_sampled(bad).collect()


def test_decode_avi_arrow_pandas_agreement(spark, sf_dir):
    """mapInArrow AVI sampling (the registered path) must be
    bit-identical to the mapInPandas twin."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").limit(24)
    payload = mm.attach_avi_payload(docs)
    arrow = {r["doc_id"]: tuple(r) for r in mm.decode_avi_sampled(payload, every=2).collect()}
    pandas = {r["doc_id"]: tuple(r) for r in mm.decode_avi_sampled_pandas(payload, every=2).collect()}
    assert arrow == pandas and len(arrow) == 24


def _exchanges(plan):
    """ShuffleExchangeExec nodes of a physical plan (JVM tree walk)."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "ShuffleExchangeExec":
            out.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


_ATTACH_VERBS = {
    # verb, the generator it must match, whether it widens its id input
    "ppm": (mm.attach_ppm_payload, lambda i: mm.make_ppm(i, 4 + i % 5, 3 + i % 4), False),
    "png": (mm.attach_png_payload, lambda i: mm.make_png(i, 4 + i % 5, 3 + i % 4), False),
    "wav": (mm.attach_wav_payload, lambda i: mm.make_wav(i, 50 + i % 20), False),
    "avi": (
        mm.attach_avi_payload,
        lambda i: mm.make_avi(i, 2 + i % 4, 8 * (1 + i % 3), 8 * (1 + i % 2)),
        True,
    ),
    "jpeg": (
        jp.attach_jpeg_payload,
        lambda i: jp.make_jpeg(i, 8 * (1 + i % 3), 8 * (1 + i % 2)),
        True,
    ),
    "jpeg_color": (
        jp.attach_jpeg_color_payload,
        lambda i: jp.make_jpeg_color(
            64 + 2 * ((3 * i) % 64),
            128 + 17 * ((i % 5) - 2),
            128 + 17 * ((i % 3) - 1),
            8 * (1 + i % 2),
            8,
        ),
        True,
    ),
    "gif": (gf.attach_gif_payload, lambda i: gf.make_gif(i, *gf.gif_geometry(i)), True),
}


@pytest.mark.parametrize("name", sorted(_ATTACH_VERBS))
def test_attach_verb_rows_and_exchange(spark, name):
    """Each synthetic-payload attach verb yields (id, payload) rows equal
    to its generator called directly. The verbs with heavy kernels
    downstream (jpeg, jpeg_color, gif, avi) put exactly one round-robin
    exchange to defaultParallelism under the generator, and it moves
    only the id column; the cheap ones (ppm, png, wav) add none. With
    ``spread=False`` the widening helper returns its input as is."""
    verb, make, widens = _ATTACH_VERBS[name]
    ids = [0, 1, 7, 123]
    docs = spark.createDataFrame([(i, f"t{i}") for i in ids], "doc_id long, text string")
    assert widen(docs, spread=False) is docs
    out = verb(docs)
    assert out.schema.simpleString() == "struct<doc_id:bigint,payload:binary>"
    got = {r["doc_id"]: bytes(r["payload"]) for r in out.collect()}
    assert got == {i: make(i) for i in ids}

    exchanges = _exchanges(out._jdf.queryExecution().sparkPlan())
    if not widens:
        assert exchanges == []
        return
    assert len(exchanges) == 1
    (ex,) = exchanges
    part = ex.outputPartitioning()
    assert part.getClass().getSimpleName() == "RoundRobinPartitioning"
    assert part.numPartitions() == spark.sparkContext.defaultParallelism
    child_out = ex.child().output()
    assert [child_out.apply(i).name() for i in range(child_out.size())] == ["doc_id"]
