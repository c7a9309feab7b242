"""GIF87a codec — pure stdlib, real LZW — the third compressed image
codec after PNG (zlib/DEFLATE) and JPEG (Huffman+DCT), completing the
classic raster trio (SURVEY C42 lineage: BMP/PPM/WAV → PNG → JPEG →
GIF). Only MP3/H.264 remain declared stubs.

``parse_gif`` walks the container (header, logical screen descriptor,
global color table, image descriptor, data sub-blocks, trailer) and
runs a REAL LZW decoder: LSB-first variable-width codes, clear/EOI
codes, dictionary growth with code-width bumps at 2^width, and the
KwKwK special case (a code referencing the not-yet-defined next
dictionary entry). ``encode_gif`` is the genuine textbook LZW
compressor (dictionary build, width bumps mirroring the decoder), so
round trips exercise real compression state, not a degenerate
literal-only stream. Scope is honest: GIF87a, single image, global
palette, no interlace — anything else raises at the byte that proves
it.

Exactness: GIF is lossless, so (palette, index pattern) from doc_id
arithmetic decode to symbolically reconstructible RGB values — the
same oracle pattern as the PNG round trip (multimodal.py).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.operators.multimodal import (
    RASTER_SCHEMA,
    map_rows,
    raster_row,
    values_fp,
)
from kafka_clickhouse_implementation_spark.registry import query


class _LSBWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, width: int) -> None:
        self._acc |= (code & ((1 << width) - 1)) << self._n
        self._n += width
        while self._n >= 8:
            self.buf.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def flush(self) -> None:
        if self._n:
            self.buf.append(self._acc & 0xFF)
            self._acc = 0
            self._n = 0


def lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """Textbook GIF LZW: dictionary of index strings, clear code
    2^min, EOI 2^min+1, code width grows when the NEXT code to be
    assigned would not fit (mirrors the decoder's bump rule)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    w = _LSBWriter()

    def reset() -> tuple[dict[tuple[int, ...], int], int, int]:
        return (
            {(i,): i for i in range(clear)},
            eoi + 1,
            min_code_size + 1,
        )

    table, next_code, width = reset()
    w.write(clear, width)
    prefix: tuple[int, ...] = ()
    for idx in indices:
        cand = prefix + (idx,)
        if cand in table:
            prefix = cand
            continue
        w.write(table[prefix], width)
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code > (1 << 12):
            w.write(clear, width)
            table, next_code, width = reset()
        prefix = (idx,)
    if prefix:
        w.write(table[prefix], width)
    w.write(eoi, width)
    w.flush()
    return bytes(w.buf)


def lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0
    acc = 0
    nbits = 0

    def read(width: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream (no EOI)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        v = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return v

    out: list[int] = []
    table: list[tuple[int, ...]] = []
    width = min_code_size + 1
    prev: tuple[int, ...] | None = None

    def reset_table() -> None:
        nonlocal table, width, prev
        table = [(i,) for i in range(clear)] + [(), ()]
        width = min_code_size + 1
        prev = None

    reset_table()
    while True:
        code = read(width)
        if code == clear:
            reset_table()
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("first code after clear must be a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + (entry[0],))
        elif code == len(table):  # KwKwK
            entry = prev + (prev[0],)
            table.append(entry)
        else:
            raise ValueError("LZW code beyond dictionary")
        out.extend(entry)
        prev = entry
        # decoder bump rule: when the next code to assign hits 2^width
        if len(table) >= (1 << width) and width < 12:
            width += 1
    return out


def encode_gif(
    width: int, height: int, palette: list[int], indices: list[int]
) -> bytes:
    """GIF87a, single image, global palette (len(palette)//3 colors,
    padded to a power of two), no interlace."""
    ncol = len(palette) // 3
    bits = max(2, (ncol - 1).bit_length())
    full = [0] * (3 * (1 << bits))
    full[: len(palette)] = palette
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", width, height, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    out += bytes(full)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    min_code = max(2, bits)
    out.append(min_code)
    data = lzw_encode(indices, min_code)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def parse_gif(payload: bytes) -> dict:
    """Decode a GIF87a/89a (single non-interlaced image, global
    palette). Returns {width, height, values} with RGB triples in
    raster order — the parse_png/parse_jpeg contract."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (missing GIF87a/GIF89a signature)")
    width, height, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if not packed & 0x80:
        raise NotImplementedError("GIF without a global color table not supported")
    ncol = 2 << (packed & 0x07)
    palette = list(payload[pos : pos + 3 * ncol])
    pos += 3 * ncol
    while True:
        block = payload[pos]
        pos += 1
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while payload[pos]:
                pos += payload[pos] + 1
            pos += 1
        elif block == 0x2C:
            break
        elif block == 0x3B:
            raise ValueError("trailer before any image data")
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    left, top, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, pos)
    pos += 9
    if ipacked & 0x80:
        raise NotImplementedError("local color tables not supported")
    if ipacked & 0x40:
        raise NotImplementedError("interlaced GIF not supported")
    if (left, top, iw, ih) != (0, 0, width, height):
        raise NotImplementedError("sub-rectangle frames not supported")
    min_code = payload[pos]
    pos += 1
    data = bytearray()
    while payload[pos]:
        ln = payload[pos]
        data += payload[pos + 1 : pos + 1 + ln]
        pos += ln + 1
    indices = lzw_decode(bytes(data), min_code)
    if len(indices) < width * height:
        raise ValueError("LZW stream shorter than the pixel grid")
    vals: list[int] = []
    for idx in indices[: width * height]:
        vals.extend(palette[3 * idx : 3 * idx + 3])
    return {"width": width, "height": height, "values": vals}


# Oracle geometry: fixed 16-color palette (literal in the SQL), index
# pattern from doc_id arithmetic, 10x6 grid.
_GIF_W, _GIF_H = 10, 6
GIF_PALETTE = [((37 * i + 11) % 256) for i in range(48)]  # 16 RGB triples
_PALETTE_LITERAL = "[" + ", ".join(str(v) for v in GIF_PALETTE) + "]"


def _gif_indices(doc_id: int) -> list[int]:
    return [(doc_id * 7 + 3 * i) % 16 for i in range(_GIF_W * _GIF_H)]


@query(
    "q_multimodal_gif",
    # DuckDB rebuilds the RGB sequence symbolically: index pattern from
    # doc_id arithmetic -> fixed palette literal -> flatten; Spark
    # encodes a REAL LZW-compressed GIF and must decode it back.
    oracle=f"""
    SELECT doc_id,
           CAST({_GIF_W} AS INT) AS width,
           CAST({_GIF_H} AS INT) AS height,
           CAST({3 * _GIF_W * _GIF_H} AS BIGINT) AS n_vals,
           CAST(list_sum(flatten(list_transform(range(0, {_GIF_W * _GIF_H}),
                 i -> {_PALETTE_LITERAL}[3 * ((doc_id * 7 + 3 * i) % 16) + 1
                                         : 3 * ((doc_id * 7 + 3 * i) % 16) + 3])))
                AS BIGINT) AS val_sum,
           md5(array_to_string(flatten(list_transform(range(0, {_GIF_W * _GIF_H}),
                 i -> {_PALETTE_LITERAL}[3 * ((doc_id * 7 + 3 * i) % 16) + 1
                                         : 3 * ((doc_id * 7 + 3 * i) % 16) + 3])),
               ',')) AS px_fp
    FROM documents WHERE doc_id < 24
    """,
)
def q_multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF/LZW round trip: each doc synthesizes a 10x6 16-color
    GIF87a whose index pattern repeats with period 16/3 — long runs
    and repeats, so the LZW dictionary genuinely compresses (multi-
    index entries, width bumps) and the decoder's KwKwK/bump paths
    execute. The oracle pins dims, the RGB sum, and the md5 of the
    comma-joined RGB raster built from the palette literal. Same
    Arrow-batched mapInPandas plumbing as the PNG/JPEG paths."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 24).select("doc_id")

    def _row(doc_id: int) -> tuple:
        payload = encode_gif(_GIF_W, _GIF_H, GIF_PALETTE, _gif_indices(doc_id))
        return raster_row(doc_id, parse_gif(payload))

    return map_rows(docs, _row, RASTER_SCHEMA)


# --------------------------------------------------------------------------
# C127 — GIF89a ANIMATION (round 7): multi-frame LZW with per-frame
# Graphic Control Extensions and the NETSCAPE2.0 loop block — the
# animation machinery real GIFs use, on top of the same real LZW core.
# --------------------------------------------------------------------------


def encode_gif89a(
    width: int,
    height: int,
    palette: list[int],
    frames: list[tuple[int, list[int]]],
    loops: int = 0,
) -> bytes:
    """GIF89a animation: global palette, NETSCAPE2.0 loop extension,
    then per frame a Graphic Control Extension (delay in centiseconds,
    disposal=do-not-dispose, no transparency) + full-frame image
    descriptor + real LZW data. ``frames`` is [(delay_cs, indices)]."""
    if not frames:
        raise ValueError("an animation needs at least one frame")
    ncol = len(palette) // 3
    bits = max(2, (ncol - 1).bit_length())
    full = [0] * (3 * (1 << bits))
    full[: len(palette)] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack(
        "<HHBBB", width, height, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0
    )
    out += bytes(full)
    # NETSCAPE2.0 application extension: loop count (0 = forever)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + struct.pack("<H", loops) + b"\x00"
    min_code = max(2, bits)
    for delay_cs, indices in frames:
        if len(indices) != width * height:
            raise ValueError("every frame covers the full logical screen")
        # GCE: block size 4, packed(disposal=1 keep), delay, no transp
        out += b"\x21\xf9\x04" + bytes([0x04]) + struct.pack("<H", delay_cs)
        out += b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        out.append(min_code)
        data = lzw_encode(indices, min_code)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def parse_gif89a(payload: bytes) -> dict:
    """Decode a GIF89a animation: walks every extension (captures GCE
    delays, skips comment/application blocks by their sub-block
    structure), LZW-decodes every full-frame image, and returns
    {width, height, loops, frames: [{delay_cs, values}]} with RGB
    triples per frame — the multi-frame extension of parse_gif."""
    if payload[:6] != b"GIF89a":
        raise ValueError("not a GIF89a (animation needs the 89a signature)")
    width, height, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if not packed & 0x80:
        raise NotImplementedError("GIF without a global color table not supported")
    ncol = 2 << (packed & 0x07)
    palette = list(payload[pos : pos + 3 * ncol])
    pos += 3 * ncol
    frames: list[dict] = []
    loops = None
    pending_delay = 0
    while True:
        block = payload[pos]
        pos += 1
        if block == 0x3B:
            break
        if block == 0x21:
            label = payload[pos]
            pos += 1
            if label == 0xF9:  # Graphic Control Extension
                if payload[pos] != 4:
                    raise ValueError("GCE block size must be 4")
                pending_delay = struct.unpack_from("<H", payload, pos + 2)[0]
                pos += 5
                if payload[pos] != 0:
                    raise ValueError("GCE missing terminator")
                pos += 1
            else:  # application / comment / plain text: sub-block walk
                if label == 0xFF and payload[pos] == 11:
                    app = payload[pos + 1 : pos + 12]
                    if app == b"NETSCAPE2.0":
                        loops = struct.unpack_from("<H", payload, pos + 14)[0]
                while payload[pos]:
                    pos += payload[pos] + 1
                pos += 1
        elif block == 0x2C:
            left, top, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            if ipacked & 0x80:
                raise NotImplementedError("local color tables not supported")
            if ipacked & 0x40:
                raise NotImplementedError("interlaced frames not supported")
            if (left, top, iw, ih) != (0, 0, width, height):
                raise NotImplementedError("sub-rectangle frames not supported")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos]:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += ln + 1
            pos += 1
            indices = lzw_decode(bytes(data), min_code)
            if len(indices) < width * height:
                raise ValueError("LZW stream shorter than the frame grid")
            vals: list[int] = []
            for idx in indices[: width * height]:
                vals.extend(palette[3 * idx : 3 * idx + 3])
            frames.append({"delay_cs": pending_delay, "values": vals})
            pending_delay = 0
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("trailer before any frame")
    return {"width": width, "height": height, "loops": loops, "frames": frames}


_ANIM_FRAMES = 4
_ANIM_DELAY = 5  # centiseconds per frame


def _anim_indices(doc_id: int, frame: int) -> list[int]:
    # each frame shifts the phase, so consecutive frames genuinely
    # differ and every frame's LZW dictionary builds independently
    return [
        (doc_id * 7 + frame * 5 + 3 * i) % 16 for i in range(_GIF_W * _GIF_H)
    ]


@query(
    "q_multimodal_gif89a",
    # the oracle rebuilds ALL frames' RGB rasters symbolically and
    # pins the animation geometry: frame count, total delay, loop
    # count, the RGB sum over every frame, and an md5 over the
    # delay-tagged concatenation of the per-frame rasters.
    oracle=f"""
    SELECT doc_id,
           CAST({_ANIM_FRAMES} AS INT) AS n_frames,
           CAST({_ANIM_FRAMES * _ANIM_DELAY} AS INT) AS total_delay_cs,
           CAST(0 AS INT) AS loops,
           CAST(list_sum(flatten(list_transform(range(0, {_ANIM_FRAMES}),
             f -> flatten(list_transform(range(0, {_GIF_W * _GIF_H}),
                 i -> {_PALETTE_LITERAL}[3 * ((doc_id * 7 + f * 5 + 3 * i) % 16) + 1
                                         : 3 * ((doc_id * 7 + f * 5 + 3 * i) % 16) + 3])))))
                AS BIGINT) AS val_sum,
           md5(array_to_string(flatten(list_transform(range(0, {_ANIM_FRAMES}),
             f -> list_append(flatten(list_transform(range(0, {_GIF_W * _GIF_H}),
                 i -> {_PALETTE_LITERAL}[3 * ((doc_id * 7 + f * 5 + 3 * i) % 16) + 1
                                         : 3 * ((doc_id * 7 + f * 5 + 3 * i) % 16) + 3])),
               {_ANIM_DELAY}))), ',')) AS anim_fp
    FROM documents WHERE doc_id < 24
    """,
)
def q_multimodal_gif89a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF89a ANIMATION round trip: each doc synthesizes a 4-frame
    10x6 animation (phase-shifted index patterns, 5 cs/frame, NETSCAPE
    infinite loop), encodes it with per-frame Graphic Control
    Extensions + real LZW, decodes it back walking every extension
    block, and emits the animation geometry plus checksums over the
    delay-tagged frame rasters — all of which the DuckDB oracle
    rebuilds symbolically. Same Arrow-batched mapInPandas plumbing as
    the still-image codecs; one narrow pass, no shuffle."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 24)
        .select("doc_id")
    )

    def _row(doc_id: int) -> tuple:
        frames = [(_ANIM_DELAY, _anim_indices(doc_id, f)) for f in range(_ANIM_FRAMES)]
        dec = parse_gif89a(encode_gif89a(_GIF_W, _GIF_H, GIF_PALETTE, frames))
        # each frame's raster, then its delay
        tagged = [v for fr in dec["frames"] for v in (*fr["values"], fr["delay_cs"])]
        return (
            doc_id,
            len(dec["frames"]),
            sum(fr["delay_cs"] for fr in dec["frames"]),
            dec["loops"],
            sum(sum(fr["values"]) for fr in dec["frames"]),
            values_fp(tagged),
        )

    return map_rows(
        docs,
        _row,
        "doc_id long, n_frames int, total_delay_cs int, loops int, val_sum long, anim_fp string",
    )
