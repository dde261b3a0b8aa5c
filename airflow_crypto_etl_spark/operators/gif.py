"""REAL dependency-free GIF codec (LZW): variable-width code stream,
clear/EOI codes, the KwKwK self-reference case, deferred clear, and
sub-block framing — decoded with only the stdlib, exactly like the
engine's PPM/PNG/JPEG/WAV kernels (`operators/multimodal.py`,
`operators/jpeg.py`).

Scope: GIF87a/89a, non-interlaced, single image frame, global color
table, 8-bit indices. Interlace, local color tables and animation
frames are rejected explicitly rather than mis-decoded — the same
stance the PNG kernel takes on palette/16-bit.

The encoder is a true dictionary LZW compressor (not the
emit-literals-and-clear "uncompressed GIF" trick), and its code-width
schedule SIMULATES the decoder's table growth, because the two sides
grow at different times: the encoder creates an entry after every
emission while the decoder creates one per code read starting with the
second — the encoder runs one entry ahead, and the width must follow
the DECODER's table size or the streams desynchronize at the 512-entry
boundary.

Provenance: engine extension — the reference stores raw API payloads
and never decodes media (`/root/reference/dags/
coin_data_pipeline_optimized.py` text/JSON columns only); LZW per the
GIF89a specification appendix (CompuServe 1990, public spec).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .layout import payload_rows, widen

_MAX_TABLE = 4096  # 12-bit LZW ceiling, per the GIF spec


# ---------------------------------------------------------------------------
# LZW core
# ---------------------------------------------------------------------------


def lzw_compress(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-flavor LZW: leading CLEAR, dictionary build-up, EOI, codes
    packed LSB-first at a width that follows the decoder's table-size
    schedule. When the table hits 4096 the dictionary is frozen
    (deferred clear) — spec-legal and sync-trivial."""
    clear = 1 << min_code_size
    eoi = clear + 1
    acc = 0
    nacc = 0
    out = bytearray()
    width = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    emit(clear)
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    dec_size = eoi + 1  # the DECODER's table size, simulated
    emissions = 0
    frozen = False

    def after_emit() -> None:
        # mirror the decoder: it appends one entry per code read,
        # starting with the second code, and bumps the width when its
        # table size reaches 2^width
        nonlocal emissions, dec_size, width
        emissions += 1
        if emissions >= 2 and dec_size < _MAX_TABLE:
            dec_size += 1
            if dec_size == (1 << width) and width < 12:
                width += 1

    cur = b""
    for bt in data:
        nxt = cur + bytes([bt])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        after_emit()
        if not frozen:
            table[nxt] = next_code
            next_code += 1
            if next_code == _MAX_TABLE:
                frozen = True  # deferred clear: stop growing, width 12
        cur = bytes([bt])
    if cur:
        emit(table[cur])
        after_emit()
    emit(eoi)
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def lzw_decompress(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-flavor LZW decode: variable width LSB-first, CLEAR resets,
    EOI terminates, code == table-size is the KwKwK case, table frozen
    at 4096 entries until a CLEAR."""
    clear = 1 << min_code_size
    eoi = clear + 1
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(roots)
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total = len(data) * 8
    while bitpos + width <= total:
        byte0 = bitpos // 8
        window = int.from_bytes(data[byte0 : byte0 + 3], "little")
        code = (window >> (bitpos % 8)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = list(roots)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table) and code > eoi or code < clear:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"invalid LZW code {code} (table {len(table)})")
        out += entry
        if prev is not None and len(table) < _MAX_TABLE:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    raise ValueError("LZW stream ended without EOI")


# ---------------------------------------------------------------------------
# Container
# ---------------------------------------------------------------------------


def gif_pixel_index(doc_id: int, p: int) -> int:
    """Generator formula for pixel p's palette index — quadratic so the
    stream is LZW-incompressible enough to push the real dictionary
    past the 512-entry width bump (a pure ramp compresses too well to
    exercise 10-bit codes). The oracle twin recomputes this in SQL."""
    return (doc_id * 31 + 17 * p * p + 13 * p) % 256


def make_gif(doc_id: int, width: int, height: int) -> bytes:
    """Deterministic spec-conformant GIF87a: 256-entry grayscale global
    palette (palette[i] = (i,i,i)), one non-interlaced image, real LZW
    data in ≤255-byte sub-blocks. Ingest-side scaffolding — the decoder
    never sees these formulas."""
    n = width * height
    indices = bytes(gif_pixel_index(doc_id, p) for p in range(n))
    palette = bytes(v for i in range(256) for v in (i, i, i))
    # logical screen descriptor: global table, 8-bit color res, 256 entries
    screen = struct.pack("<HHBBB", width, height, 0b1111_0111, 0, 0)
    image = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    lzw = lzw_compress(indices, 8)
    blocks = bytearray(b"\x08")  # LZW minimum code size
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return b"GIF87a" + screen + palette + image + bytes(blocks) + b"\x3b"


def decode_gif_bytes(b: bytes) -> tuple[int, int, bytes]:
    """Parse a GIF and return (width, height, rgb_bytes): header +
    screen descriptor, global palette, extension-block skipping, image
    descriptor, sub-block reassembly, LZW decode, palette application.
    Returns the first image frame's pixels as RGB24."""
    if b[:4] != b"GIF8" or b[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF payload")
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", b[6:13])
    pos = 13
    palette = b""
    if packed & 0x80:
        n_ent = 2 << (packed & 0x07)
        palette = b[pos : pos + 3 * n_ent]
        pos += 3 * n_ent
    while pos < len(b):
        intro = b[pos]
        pos += 1
        if intro == 0x21:  # extension: label + sub-blocks to terminator
            pos += 1
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif intro == 0x2C:  # image descriptor
            _lf, _tp, iw, ih, ipacked = struct.unpack("<HHHHB", b[pos : pos + 9])
            pos += 9
            if ipacked & 0x80:
                raise ValueError("local color tables not supported")
            if ipacked & 0x40:
                raise ValueError("interlaced GIF not supported")
            if not palette:
                raise ValueError("no global color table")
            mcs = b[pos]
            pos += 1
            data = bytearray()
            while b[pos] != 0:
                ln = b[pos]
                data += b[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            indices = lzw_decompress(bytes(data), mcs)
            if len(indices) != iw * ih:
                raise ValueError(
                    f"decoded {len(indices)} indices for {iw}x{ih} frame"
                )
            rgb = bytearray(iw * ih * 3)
            for i, idx in enumerate(indices):
                rgb[3 * i : 3 * i + 3] = palette[3 * idx : 3 * idx + 3]
            return iw, ih, bytes(rgb)
        elif intro == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{intro:02x}")
    raise ValueError("GIF contains no image frame")


# ---------------------------------------------------------------------------
# Spark surface (same plumbing as the PPM/PNG/JPEG kernels)
# ---------------------------------------------------------------------------

GIF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_components", T.IntegerType()),
        T.StructField("n_px_bytes", T.IntegerType()),
        T.StructField("px_mean", T.DoubleType()),
    ]
)


def gif_geometry(doc_id: int) -> tuple[int, int]:
    """Payload geometry from the id — big enough (≥ 720 px) that the
    real LZW dictionary crosses the 512-entry boundary and the stream
    carries 10-bit codes."""
    return 24 + doc_id % 7, 30 + doc_id % 5


def attach_gif_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Give every document a decodable GIF payload (geometry derived
    from the id, same shape as the PPM/PNG/JPEG attach twins)."""
    return payload_rows(
        widen(docs.select(id_col)), lambda i: make_gif(i, *gif_geometry(i))
    )


def decode_gif(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL GIF decode on Arrow-batched ``mapInPandas`` — drop-in peer
    of decode_png/decode_jpeg behind identical plumbing; px stats from
    an exact integer sum with one IEEE division."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, b in zip(pdf[id_col], pdf["payload"]):
                w, h, rgb = decode_gif_bytes(bytes(b))
                rows.append((doc_id, w, h, 3, len(rgb), sum(rgb) / len(rgb)))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "width", "height", "n_components", "n_px_bytes", "px_mean"],
            )

    return df.mapInPandas(batches, GIF_SCHEMA)
