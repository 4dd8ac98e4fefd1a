"""Multimodal (image/audio/video) column support.

Media are modeled the Spark-idiomatic way for a 100 TB training-data
pipeline: an opaque ``binary`` payload column plus typed metadata columns,
decoded by Arrow-batched ``mapInPandas`` stages. Each real codec is three
parts: a payload maker ``make(text) -> bytes`` that ``_payloads`` runs
over ``(doc_id, text)``, a decoder ``decode(payload) -> dict`` that
``_decode`` runs over ``(doc_id, payload)``, and the features schema
``_decode`` projects each decoded dict onto. Seven formats decode for real
with stdlib + numpy: netpbm (``decode_netpbm``), PNG/DEFLATE, GIF/LZW,
PCM WAV, BMP, RLE TGA and baseline TIFF. ``decode_media(real=True)``
sniffs the last six from their bytes; JPEG and MPEG need PIL/ffmpeg,
which this runtime lacks, and raise ``NotImplementedError``.

The fake payload of the metadata queries is

    magic(4 bytes) | md5(text) (16 bytes) | utf-8 text bytes

and every real codec's pixels or samples come from md5 of the text, so
each byte a decoder reads is independently recomputable in SQL from the
text — which is how the DuckDB oracle verifies that the Arrow binary
plumbing is byte-correct.

Scale notes: payloads stay opaque binary end-to-end (no driver collect);
mapInPandas streams Arrow record batches, so per-executor memory is bounded
by batch size (spark.sql.execution.arrow.maxRecordsPerBatch), not file
count; metadata-only queries never touch payload bytes thanks to parquet
column pruning.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: magic prefixes for the three synthetic media kinds
MAGIC_HEX = {
    "image": "89504E47",  # PNG
    "audio": "52494646",  # RIFF/WAV
    "video": "000001BA",  # MPEG-PS pack header
}
MIME = {
    "image": "image/png",
    "audio": "audio/wav",
    "video": "video/mpeg",
}


def synth_payload(text: Column, kind: str) -> Column:
    """Deterministic fake media payload (binary) for a text column."""
    return F.unhex(
        F.concat(
            F.lit(MAGIC_HEX[kind]),
            F.md5(F.encode(text, "UTF-8")),
            F.hex(F.encode(text, "UTF-8")),
        )
    )


def sniff_mime(payload: Column) -> Column:
    """Magic-byte content sniffing on the first 4 payload bytes."""
    head = F.upper(F.substring(F.hex(payload), 1, 8))
    expr = F.lit("application/octet-stream")
    for kind, magic in MAGIC_HEX.items():
        expr = F.when(head == magic, F.lit(MIME[kind])).otherwise(expr)
    return expr


def parsed_dims(payload: Column) -> tuple[Column, Column]:
    """(width, height) parsed from header bytes 4:6 / 6:8 as big-endian u16 —
    the built-in-expression twin of the pandas decoder (whole-stage codegen;
    use this form when no per-pixel work is needed)."""
    hx = F.hex(payload)
    width = F.conv(F.substring(hx, 9, 4), 16, 10).cast("long")
    height = F.conv(F.substring(hx, 13, 4), 16, 10).cast("long")
    return width, height


PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def _payloads(df: DataFrame, make: Callable[[str], bytes]) -> DataFrame:
    """One Arrow stage from ``(doc_id, text)`` to ``(doc_id, payload)``,
    with ``payload = make(text)``."""

    def enc(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "payload": [make(t) for t in pdf["text"]],
            })

    return df.select("doc_id", "text").mapInPandas(enc, PAYLOAD_SCHEMA)


def _decode(df: DataFrame, schema: StructType,
            decode: Callable[[bytes], dict]) -> DataFrame:
    """One Arrow stage from ``(doc_id, payload)`` to ``schema``: each
    payload's ``decode`` dict, projected onto the fields after ``doc_id``.
    A separate stage from ``_payloads`` on purpose: the encoded binary
    column itself round-trips JVM↔Arrow, not just the decoded features."""
    cols = schema.fieldNames()[1:]

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = pd.DataFrame(
                [decode(bytes(p)) for p in pdf["payload"]], columns=cols
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.select("doc_id", "payload").mapInPandas(extract, schema)


def _md5_stream(text: str, n: int) -> bytes:
    """The first ``n`` bytes of the indexed-md5 stream of ``text``: block
    ``k`` is the 16 raw bytes of ``md5(f"{text}-{k}")``. Every pixel or
    sample is then one stream byte, recomputable in SQL with no chaining."""
    blocks = (hashlib.md5(f"{text}-{k}".encode()).digest()
              for k in range((n + 15) // 16))
    return b"".join(blocks)[:n]


# mm_ppm_decode / mm_png_decode: a 4x4 RGB grid whose 48 bytes are
# md5(text) repeated.
_MD5_GRID = 4


def synth_ppm(text: Column) -> Column:
    """A REAL P6 PPM image derived deterministically from the text: ASCII
    netpbm header + ``4*4*3`` raw RGB bytes cycling through md5(text). Built
    entirely from JVM-side expressions (encode/repeat/unhex/concat on
    binary), so payload synthesis is codegen'd — no Python until decode."""
    n = _MD5_GRID * _MD5_GRID * 3
    reps = (2 * n + 31) // 32  # md5 hex is 32 chars = 16 bytes per rep
    header = F.encode(F.lit(f"P6\n{_MD5_GRID} {_MD5_GRID}\n255\n"), "UTF-8")
    pixels = F.unhex(F.substring(F.repeat(F.md5(text), reps), 1, 2 * n))
    return F.concat(header, pixels)


def decode_netpbm(payload: bytes) -> dict:
    """REAL image decode for the netpbm family — P6 (RGB) and P5 (gray):
    parse the ASCII header (magic, dims, maxval, '#' comments), then
    ``np.frombuffer`` the raw pixel plane and compute real pixel features,
    including a genuine nearest-neighbor 2× downsample (``arr[::2, ::2]``).
    Needs no codec at all: the pixel plane is stored raw."""
    if payload[:2] not in (b"P6", b"P5"):
        raise ValueError(f"not a netpbm payload: {payload[:2]!r}")
    # tokenize header: magic, width, height, maxval (whitespace/comments)
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to end of line
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        start = i
        while i < len(payload) and not payload[i : i + 1].isspace():
            i += 1
        tokens.append(payload[start:i])
    i += 1  # single whitespace after maxval, then raw pixels
    w, h, maxval = int(tokens[0]), int(tokens[1]), int(tokens[2])
    channels = 3 if payload[:2] == b"P6" else 1
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * channels,
                        offset=i).reshape(h, w, channels)
    ds = arr[::2, ::2]
    return {
        "width": w,
        "height": h,
        "channels": channels,
        "mean_px": round(float(arr.mean()), 4),
        "ds_mean_px": round(float(ds.mean()), 4),
    }


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(pixels: "np.ndarray") -> bytes:
    """REAL PNG encoder — stdlib only (zlib + struct): 8-bit truecolor
    (color type 2), one IDAT, CRC-correct chunks. Rows deliberately cycle
    through ALL FOUR non-trivial scanline filters (Sub/Up/Average/Paeth,
    row r gets filter (r % 4) + 1) so a round-trip through
    ``decode_png`` exercises every unfilter branch a real decoder needs —
    a filter-0-only encoder would let a broken unfilter path pass."""
    h, w, channels = pixels.shape
    assert channels == 3 and pixels.dtype.itemsize == 1
    bpp = 3
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = bytearray()
    prev = bytes(w * bpp)
    for r in range(h):
        row = pixels[r].tobytes()
        ftype = (r % 4) + 1
        raw.append(ftype)
        for i, x in enumerate(row):
            left = row[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            if ftype == 1:
                raw.append((x - left) & 0xFF)
            elif ftype == 2:
                raw.append((x - up) & 0xFF)
            elif ftype == 3:
                raw.append((x - (left + up) // 2) & 0xFF)
            else:
                raw.append((x - _paeth(left, up, ul)) & 0xFF)
        prev = row
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> dict:
    """REAL PNG decode — stdlib only (zlib + struct + numpy): walk the chunk
    stream (verifying every CRC), parse IHDR, inflate the concatenated
    IDATs, undo all five scanline filters (None/Sub/Up/Average/Paeth),
    and compute the same pixel features as ``decode_netpbm`` — including
    the genuine nearest-neighbor 2× downsample. Supports 8-bit truecolor
    (type 2) and greyscale (type 0), no interlace — the subset
    ``encode_png`` emits, parsed the hard way."""
    if payload[:8] != PNG_SIGNATURE:
        raise ValueError(f"not a PNG payload: {payload[:8]!r}")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, bit_depth, color_type, _comp, _filt, interlace = ihdr
    if bit_depth != 8 or color_type not in (0, 2) or interlace:
        raise ValueError(
            f"unsupported PNG shape: depth={bit_depth} type={color_type} "
            f"interlace={interlace}"
        )
    channels = 3 if color_type == 2 else 1
    bpp = channels
    stride = w * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT payload has wrong length")
    out = bytearray(h * stride)
    prev = bytes(stride)
    for r in range(h):
        ftype = raw[r * (stride + 1)]
        line = raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)]
        recon = bytearray(stride)
        for i, x in enumerate(line):
            left = recon[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                v = x
            elif ftype == 1:
                v = x + left
            elif ftype == 2:
                v = x + up
            elif ftype == 3:
                v = x + (left + up) // 2
            elif ftype == 4:
                v = x + _paeth(left, up, ul)
            else:
                raise ValueError(f"bad PNG filter type {ftype}")
            recon[i] = v & 0xFF
        out[r * stride : (r + 1) * stride] = recon
        prev = bytes(recon)
    arr = np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, w, channels)
    ds = arr[::2, ::2]
    return {
        "width": w,
        "height": h,
        "channels": channels,
        "bit_depth": bit_depth,
        "n_bytes": len(payload),
        "mean_px": round(float(arr.mean()), 4),
        "ds_mean_px": round(float(ds.mean()), 4),
    }


def decode_media(payload: bytes, real: bool = False) -> dict:
    """Decode one payload of unknown type. ``real=True`` sniffs the bytes
    and hands off to the real codec: PNG (8-byte signature) ->
    ``decode_png``, GIF87a/89a -> ``decode_gif``, RIFF/WAVE ->
    ``decode_wav``, ``BM`` -> ``decode_bmp``, the TGA-2.0 footer ->
    ``decode_tga``, ``II*\\0``/``MM`` -> ``decode_tiff``; anything else
    (JPEG, MPEG: PIL/ffmpeg are not in this runtime) raises
    ``NotImplementedError``. ``real=False`` is the fake decode of the
    metadata payload: it parses the header bytes the way a codec parses
    an IHDR chunk."""
    if real:
        if payload[:8] == PNG_SIGNATURE:
            return decode_png(payload)
        if payload[:6] in GIF_SIGNATURES:
            return decode_gif(payload)
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            return decode_wav(payload)
        if payload[:2] == b"BM":
            return decode_bmp(payload)
        if len(payload) >= 18 and payload[-18:] == b"TRUEVISION-XFILE.\x00":
            return decode_tga(payload)
        if payload[:4] == b"II\x2a\x00" or payload[:2] == b"MM":
            return decode_tiff(payload)
        raise NotImplementedError(
            "real codecs for JPEG/MPEG (PIL/ffmpeg) are not available in "
            "this environment; PNG (DEFLATE), GIF (LZW), RLE TGA, BMP, "
            "baseline TIFF and PCM WAV decode for real via decode_png/"
            "decode_gif/decode_tga/decode_bmp/decode_tiff/decode_wav, "
            "deterministic fake decode covers the rest"
        )
    width = (payload[4] << 8) | payload[5]
    height = (payload[6] << 8) | payload[7]
    return {
        "n_bytes": len(payload),
        "width": width,
        "height": height,
        "head_hex": payload[:4].hex().upper(),
        "mean_px": (width * height + len(payload)) % 256,
    }


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("head_hex", StringType()),
        StructField("mean_px", LongType()),
    ]
)


PPM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("mean_px", DoubleType()),
        StructField("ds_mean_px", DoubleType()),
    ]
)


PNG_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("bit_depth", LongType()),
        StructField("mean_px", DoubleType()),
        StructField("ds_mean_px", DoubleType()),
    ]
)


def _png_payload(text: str) -> bytes:
    """A REAL PNG of the ``synth_ppm`` pixels: encode_png wraps them in
    CRC-correct zlib-compressed chunks with all four non-trivial row
    filters."""
    n = _MD5_GRID * _MD5_GRID * 3
    px = (hashlib.md5(text.encode()).digest() * ((n + 15) // 16))[:n]
    return encode_png(
        np.frombuffer(px, dtype=np.uint8).reshape(_MD5_GRID, _MD5_GRID, 3)
    )


def frame_samples(df: DataFrame, id_col: str, payload_col: str,
                  frame_bytes: int = 16, every: int = 3) -> DataFrame:
    """Sample every ``every``-th fixed-size frame from a video payload:
    (id, frame_idx, frame_sig). Frames are 1-based byte ranges after the
    4-byte magic; the signature is md5 over the frame's hex rendering so the
    oracle can recompute it without blob slicing. Explode + codegen'd
    expressions — no Python in this path."""
    hx = F.lower(F.hex(F.col(payload_col)))
    n_frames = F.floor((F.length(F.col(payload_col)) - F.lit(4)) / F.lit(frame_bytes))
    frames = df.select(
        F.col(id_col),
        hx.alias("hx"),
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).filter(F.col("frame_idx") % every == 0)
    sig = F.md5(
        F.encode(
            F.substring(
                F.col("hx"),
                F.lit(9) + F.col("frame_idx") * (2 * frame_bytes),
                2 * frame_bytes,
            ),
            "UTF-8",
        )
    )
    return frames.select(id_col, "frame_idx", sig.alias("frame_sig"))


def frame_sig_py(payload: bytes, idx: int, frame_bytes: int = 16) -> str:
    """Python twin of the frame signature (for tests)."""
    frame = payload[4 + idx * frame_bytes : 4 + (idx + 1) * frame_bytes]
    return hashlib.md5(frame.hex().encode()).hexdigest()


# Executors must never need this package on their import path: the driver can
# run from any cwd (the round driver does), and functions defined here cross
# the JVM->Python-worker boundary. Pickle-by-value makes every shipped
# closure self-contained, so workers only need pyspark/pandas/numpy.
import sys as _sys  # noqa: E402

from pyspark import cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


# ---------------------------------------------------------------------------
# GIF / LZW — a second real stdlib codec, from a genuinely different
# compression family than PNG's DEFLATE: GIF's variable-code-width LZW
# with dictionary rebuild. No codec library — the
# bitstream reader/writer, the dictionary, the code-width transitions and
# the cScSc corner case are all implemented here and pinned by tests.
# ---------------------------------------------------------------------------

GIF_SIGNATURES = (b"GIF89a", b"GIF87a")


def _lzw_encode(data: bytes, min_code: int) -> bytes:
    """REAL GIF-flavor LZW encoder: dictionary-based longest-match with
    clear/end codes and variable code width (LSB-first bit packing).

    Width rule (the GIF pairing): the DECODER lags the encoder by exactly
    one dictionary insert, so the encoder bumps the code width when
    ``next_code == (1 << width) + 1`` while the decoder bumps at
    ``next_code == (1 << width)`` — one boundary later on the encoder side
    keeps every code readable at the width the decoder expects."""
    clear = 1 << min_code
    end = clear + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, w: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    w_seq = b""
    for byte in data:
        cand = w_seq + bytes([byte])
        if cand in table:
            w_seq = cand
            continue
        emit(table[w_seq], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:  # table full: clear and restart (the standard GIF reset)
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code + 1
        w_seq = bytes([byte])
    if w_seq:
        emit(table[w_seq], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(stream: bytes, min_code: int) -> bytes:
    """REAL GIF LZW decoder: variable-width code reader (LSB-first),
    dictionary rebuild on CLEAR, and the cScSc case (``code == next_code``,
    where the entry being referenced is the one *about to be defined*)."""
    clear = 1 << min_code
    end = clear + 1

    pos = 0  # bit position

    def read(width: int) -> int:
        nonlocal pos
        byte0, bit0 = divmod(pos, 8)
        acc = 0
        for k in range((bit0 + width + 7) // 8):
            if byte0 + k < len(stream):
                acc |= stream[byte0 + k] << (8 * k)
        pos += width
        return (acc >> bit0) & ((1 << width) - 1)

    table: list[bytes] = []
    width = min_code + 1
    next_code = end + 1
    prev: bytes | None = None
    out = bytearray()

    def reset() -> None:
        nonlocal table, width, next_code, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code + 1
        next_code = end + 1
        prev = None

    reset()
    while True:
        code = read(width)
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if code < len(table) and code < next_code:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # cScSc: entry defined by this very code
        else:
            raise ValueError(f"corrupt LZW stream: code {code} @ bit {pos}")
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out)


def encode_gif(indices: "np.ndarray") -> bytes:
    """REAL GIF89a encoder — stdlib only: logical screen descriptor, a
    256-entry grayscale global color table (palette[i] = (i,i,i)), image
    descriptor, and genuinely LZW-compressed index data split into
    255-byte sub-blocks."""
    h, w = indices.shape
    assert indices.dtype.itemsize == 1
    out = bytearray(b"GIF89a")
    # LSD: GCT present, color resolution 8, GCT size 2^(7+1)=256
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    for i in range(256):  # grayscale GCT
        out += bytes((i, i, i))
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # image descriptor
    min_code = 8
    out.append(min_code)
    stream = _lzw_encode(indices.tobytes(), min_code)
    for i in range(0, len(stream), 255):
        block = stream[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3B"  # block terminator + trailer
    return bytes(out)


def decode_gif(payload: bytes) -> dict:
    """REAL GIF decode — stdlib only: parse header + logical screen
    descriptor, read the global color table, skip extension blocks (0x21),
    parse the image descriptor, reassemble LZW sub-blocks, run the real
    variable-width LZW decoder, and map indices through the palette to
    pixel values (verifying the palette is grayscale so 'pixel value' is
    well-defined). Features mirror ``decode_png``: mean + real 2×
    nearest-neighbor downsample."""
    if payload[:6] not in GIF_SIGNATURES:
        raise ValueError(f"not a GIF payload: {payload[:6]!r}")
    w, h, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    palette = None
    if packed & 0x80:
        gct_n = 2 << (packed & 0x07)
        palette = payload[pos : pos + 3 * gct_n]
        pos += 3 * gct_n
    indices = None
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            ix, iy, iw, ih, ipacked = struct.unpack(
                "<HHHHB", payload[pos + 1 : pos + 10]
            )
            pos += 10
            if ipacked & 0x80:  # local color table overrides
                lct_n = 2 << (ipacked & 0x07)
                palette = payload[pos : pos + 3 * lct_n]
                pos += 3 * lct_n
            if ipacked & 0x40:
                raise ValueError("interlaced GIF not supported")
            min_code = payload[pos]
            pos += 1
            stream = bytearray()
            while payload[pos] != 0:
                n = payload[pos]
                stream += payload[pos + 1 : pos + 1 + n]
                pos += 1 + n
            pos += 1
            idx = _lzw_decode(bytes(stream), min_code)
            if len(idx) != iw * ih:
                raise ValueError(
                    f"LZW decoded {len(idx)} indices for {iw}x{ih} image"
                )
            indices = np.frombuffer(idx, dtype=np.uint8).reshape(ih, iw)
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02X} @ {pos}")
    if indices is None or palette is None:
        raise ValueError("GIF missing image data or color table")
    pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
    if not (pal[:, 0] == pal[:, 1]).all() or not (pal[:, 1] == pal[:, 2]).all():
        raise ValueError("non-grayscale palette: pixel value undefined")
    arr = pal[indices, 0]  # palette map: index -> gray value
    ds = arr[::2, ::2]
    # NO engine-side rounding here, unlike decode_png: these means divide
    # integer sums by powers of two (w*h and its 2x downsample), so they
    # are EXACT dyadic doubles on both engines — while round(x, 4) on a
    # dyadic like .90625 is a tie that Python (half-even) and DuckDB
    # (half-away) break differently.
    return {
        "width": int(indices.shape[1]),
        "height": int(indices.shape[0]),
        "palette_size": int(pal.shape[0]),
        "n_bytes": len(payload),
        "mean_px": float(arr.mean()),
        "ds_mean_px": float(ds.mean()),
    }


GIF_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("palette_size", LongType()),
        StructField("mean_px", DoubleType()),
        StructField("ds_mean_px", DoubleType()),
    ]
)


# mm_gif_decode: 32x32 grayscale indices, pixel p = stream byte p
# (row-major); near-random, so 9-, 10- and 11-bit LZW codes all appear.
_GIF_SIDE = 32


def _gif_payload(text: str) -> bytes:
    px = _md5_stream(text, _GIF_SIDE * _GIF_SIDE)
    return encode_gif(
        np.frombuffer(px, dtype=np.uint8).reshape(_GIF_SIDE, _GIF_SIDE)
    )


# ---------------------------------------------------------------------------
# WAV / PCM — the audio modality. PCM WAV is an uncompressed container:
# RIFF chunk walk + fmt parse + int16 sample plane, all stdlib struct +
# numpy, no codec library involved.
# ---------------------------------------------------------------------------


def encode_wav(samples: "np.ndarray", sample_rate: int = 8000) -> bytes:
    """REAL canonical 44-byte-header PCM WAV encoder: RIFF/WAVE, one
    ``fmt `` chunk (format 1 = PCM, mono, 16-bit) and one ``data`` chunk
    of little-endian int16 samples."""
    assert samples.dtype.str in ("<i2", "|i2", "=i2" ) or samples.dtype.itemsize == 2
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * 2
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, byte_rate, 2, 16)
    out = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data
    return out


def _wav_plane(payload: bytes) -> tuple:
    """Shared RIFF walk for the WAV decoders: verify the container, walk
    the chunk stream (skipping unknown chunks like LIST/INFO, honoring
    the odd-size pad byte), parse ``fmt `` (PCM only, 16-bit only —
    compressed WAV formats such as ADPCM/mu-law would need a codec and
    stay gated), and return ``(sample_rate, channels, bits, samples)``
    with the int16 plane widened to int64."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload: {payload[:12]!r}")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    if riff_size + 8 != len(payload):
        raise ValueError("RIFF size does not match payload length")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_format, channels, sample_rate, _br, _ba, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(
            f"only 16-bit PCM decodes for real (format={audio_format}, "
            f"bits={bits}); compressed WAV formats need a codec"
        )
    s = np.frombuffer(data, dtype="<i2").astype(np.int64)
    if channels > 1:
        s = s.reshape(-1, channels)
    return int(sample_rate), int(channels), int(bits), s


def decode_wav(payload: bytes) -> dict:
    """REAL PCM WAV decode — stdlib struct + numpy over the shared
    ``_wav_plane`` RIFF walk, computing whole-file signal features: peak
    amplitude, RMS, and integer duration."""
    sample_rate, channels, bits, s = _wav_plane(payload)
    n = s.shape[0]
    # n and the sums are exact integers; rms is a sqrt of an exact
    # rational, irrational unless the mean square is a perfect square —
    # round(…, 6) cannot tie across engines
    return {
        "sample_rate": int(sample_rate),
        "channels": int(channels),
        "bits": int(bits),
        "n_samples": n,
        "duration_ms": n * 1000 // int(sample_rate),
        "peak": int(np.abs(s).max()),
        "rms": round(float(np.sqrt((s.astype(np.float64) ** 2).mean())), 6),
        "n_bytes": len(payload),
    }


WAV_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("bits", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("peak", LongType()),
        StructField("rms", DoubleType()),
    ]
)


# mm_wav_decode / mm_audio_frames: 256 int16 samples at 8 kHz, sample s
# = stream bytes (2s, 2s+1) little-endian; frames of 32 samples.
_WAV_SAMPLES = 256
_FRAME_LEN = 32


def _wav_payload(text: str) -> bytes:
    raw = _md5_stream(text, 2 * _WAV_SAMPLES)
    return encode_wav(np.frombuffer(raw, dtype="<i2"))


WAV_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame", LongType()),
        StructField("peak", LongType()),
        StructField("rms", DoubleType()),
        StructField("zcr", LongType()),
    ]
)


def wav_frame_features(df: DataFrame) -> DataFrame:
    """FRAME-level audio featurization over a binary WAV column — the
    windowed-analysis stage a speech/audio curation pipeline runs after
    whole-file stats (energy gating / VAD-style screening): decode the
    PCM plane once per payload via the shared ``_wav_plane`` RIFF walk,
    reshape to ``(n_frames, 32)`` and compute, fully vectorized in numpy
    across the Arrow batch, per-frame peak, RMS energy and zero-crossing
    count. One payload fans out to ``n // 32`` rows; the fan-out happens
    INSIDE the Arrow batch so the binary column crosses the JVM↔Python
    boundary exactly once.

    Determinism contract matches ``decode_wav``: peaks/ZCR are exact
    integers; each frame RMS is sqrt of an exact dyadic mean
    (32 = 2^5 samples), irrational unless a perfect square, so
    round(…, 6) cannot tie across engines."""

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids: list = []
            frames: list = []
            peaks: list = []
            rmss: list = []
            zcrs: list = []
            for did, p in zip(pdf["doc_id"].values, pdf["payload"]):
                _sr, channels, _bits, s = _wav_plane(bytes(p))
                if channels > 1:
                    s = s[:, 0]  # frame features on the first channel
                nf = s.shape[0] // _FRAME_LEN
                fr = s[: nf * _FRAME_LEN].reshape(nf, _FRAME_LEN)
                ff = fr.astype(np.float64)
                nonneg = fr >= 0
                ids.extend([did] * nf)
                frames.extend(range(nf))
                peaks.extend(np.abs(fr).max(axis=1).tolist())
                rmss.extend(
                    round(float(x), 6)
                    for x in np.sqrt((ff * ff).mean(axis=1))
                )
                zcrs.extend(
                    (nonneg[:, 1:] != nonneg[:, :-1]).sum(axis=1).tolist()
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame": frames,
                    "peak": peaks,
                    "rms": rmss,
                    "zcr": zcrs,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        extract, WAV_FRAME_SCHEMA
    )


# ---------------------------------------------------------------------------
# REAL BMP codec — BI_RGB 24-bit, the uncompressed raster container next
# to WAV: BITMAPFILEHEADER + BITMAPINFOHEADER, BGR channel order,
# 4-byte-aligned row stride, BOTTOM-UP row storage. All
# stdlib struct + numpy; the decode must get the stride padding, the
# vertical flip, and the BGR layout right or the position-/channel-
# sensitive features (top_mean, mean_b/mean_r) diverge from the oracle.
# ---------------------------------------------------------------------------


def encode_bmp(pixels: "np.ndarray") -> bytes:
    """REAL Windows BMP encoder: ``pixels`` is (h, w, 3) uint8 in BGR
    channel order; rows are written bottom-up, each padded to a 4-byte
    boundary (BI_RGB, 24 bpp, BITMAPINFOHEADER)."""
    h, w, ch = pixels.shape
    assert ch == 3 and pixels.dtype.itemsize == 1
    stride = (w * 3 + 3) // 4 * 4
    pad = b"\x00" * (stride - w * 3)
    body = b"".join(pixels[r].tobytes() + pad for r in range(h - 1, -1, -1))
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return head + info + body


def decode_bmp(payload: bytes) -> dict:
    """REAL BMP decode — stdlib struct + numpy: verify the ``BM``
    signature and declared file size, parse BITMAPINFOHEADER (BI_RGB
    24-bit only — RLE8/RLE4 BMP variants would need their own expander
    and stay gated), honor the pixel-array offset, de-pad the 4-byte row
    stride, flip the bottom-up rows to logical top-down order, and
    compute position-/channel-sensitive features: a wrong flip breaks
    ``top_mean``, a wrong stride shears every row, a BGR/RGB mixup swaps
    ``mean_b``/``mean_r``."""
    if payload[:2] != b"BM":
        raise ValueError(f"not a BMP payload: {payload[:2]!r}")
    _sig, fsize, _r1, _r2, off = struct.unpack("<2sIHHI", payload[:14])
    if fsize != len(payload):
        raise ValueError("BMP declared size does not match payload length")
    hdr_size, w, h, planes, bpp, comp = struct.unpack(
        "<IiiHHI", payload[14:34]
    )
    if hdr_size < 40 or planes != 1:
        raise ValueError("not a BITMAPINFOHEADER BMP")
    if bpp != 24 or comp != 0:
        raise ValueError(
            f"only uncompressed 24-bit BI_RGB decodes for real "
            f"(bpp={bpp}, compression={comp}); RLE BMPs need an expander"
        )
    flip = h > 0  # positive height = bottom-up storage
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        payload[off : off + stride * h], dtype=np.uint8
    ).reshape(h, stride)[:, : w * 3]
    img = rows.reshape(h, w, 3)
    if flip:
        img = img[::-1]
    px = img.astype(np.float64)
    return {
        "width": int(w),
        "height": int(h),
        "bpp": int(bpp),
        "n_bytes": len(payload),
        "mean_px": float(px.mean()),
        "top_mean": float(px[0].mean()),
        "mean_b": float(px[:, :, 0].mean()),
        "mean_r": float(px[:, :, 2].mean()),
    }


BMP_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bpp", LongType()),
        StructField("mean_px", DoubleType()),
        StructField("top_mean", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("mean_r", DoubleType()),
    ]
)


# mm_bmp_decode: a 10x8 grid (30-byte rows padded to 32 on the wire);
# channel ch of pixel (r, c) = stream byte 3*(r*w + c) + ch, BGR order.
_BMP_W, _BMP_H = 10, 8


def _bmp_payload(text: str) -> bytes:
    px = _md5_stream(text, 3 * _BMP_W * _BMP_H)
    return encode_bmp(
        np.frombuffer(px, dtype=np.uint8).reshape(_BMP_H, _BMP_W, 3)
    )


# ---------------------------------------------------------------------------
# REAL TGA type-10 codec — RLE-compressed true-color Targa: a
# THIRD real compression family on the wire (run-length packets) after
# DEFLATE (PNG) and LZW (GIF). 18-byte header, per-scanline greedy RLE
# (run packets 0x80|n-1 + one pixel; raw packets n-1 + n pixels; packets
# never cross scan lines), bottom-up rows, TGA-2.0 footer for sniffing
# (the format has no leading magic). Stdlib struct + numpy only.
# ---------------------------------------------------------------------------

TGA_FOOTER = b"\x00" * 8 + b"TRUEVISION-XFILE.\x00"


def encode_tga_rle(pixels: "np.ndarray") -> bytes:
    """REAL RLE Targa encoder: ``pixels`` is (h, w, 3) uint8 BGR; image
    type 10 (RLE true-color), rows written bottom-up (descriptor origin
    bit 0), greedy per-scanline RLE with the 128-pixel packet cap, plus
    the TGA-2.0 footer so ``decode_media`` can sniff the format."""
    h, w, ch = pixels.shape
    assert ch == 3 and pixels.dtype.itemsize == 1
    out = [struct.pack("<BBBHHBHHHHBB", 0, 0, 10, 0, 0, 0, 0, 0, w, h, 24, 0)]
    for r in range(h - 1, -1, -1):
        row = pixels[r]
        c = 0
        while c < w:
            run = 1
            while (
                c + run < w
                and run < 128
                and (row[c + run] == row[c]).all()
            ):
                run += 1
            if run >= 2:
                out.append(bytes([0x80 | (run - 1)]) + row[c].tobytes())
                c += run
            else:
                start = c
                c += 1
                while c < w and c - start < 128:
                    nxt = 1
                    while (
                        c + nxt < w
                        and nxt < 2
                        and (row[c + nxt] == row[c]).all()
                    ):
                        nxt += 1
                    if nxt >= 2:
                        break
                    c += 1
                out.append(
                    bytes([c - start - 1]) + row[start:c].tobytes()
                )
    out.append(TGA_FOOTER)
    return b"".join(out)


def decode_tga(payload: bytes) -> dict:
    """REAL RLE Targa decode — stdlib struct + numpy: parse the 18-byte
    header (type 10, 24-bit, zero id/colormap only — type-2 uncompressed
    and colormapped variants stay gated), walk the run/raw packet stream
    one scan line at a time COUNTING packets, verify no packet crosses a
    scan line and the stream ends exactly at the pixel count, flip the
    bottom-up rows, and compute the same position-sensitive features as
    BMP plus the compression structure itself (``n_packets``,
    ``n_bytes``) — the oracle recomputes both from the run structure of
    the source bytes, so a hash match proves the packet walk, not just
    the pixel plane."""
    if len(payload) < 18 + len(TGA_FOOTER) or payload[-18:] != TGA_FOOTER[8:]:
        raise ValueError("not a TGA-2.0 payload (footer missing)")
    (idlen, cmap, itype, _cfirst, _clen, _csize, _x0, _y0, w, h, bpp,
     desc) = struct.unpack("<BBBHHBHHHHBB", payload[:18])
    if itype != 10 or bpp != 24 or idlen or cmap:
        raise ValueError(
            f"only RLE true-color TGA (type 10, 24-bit) decodes for real "
            f"(type={itype}, bpp={bpp})"
        )
    body = payload[18 : -len(TGA_FOOTER)]
    rows, pos, n_packets = [], 0, 0
    for _ in range(h):
        row = np.empty((w, 3), dtype=np.uint8)
        c = 0
        while c < w:
            if pos >= len(body):
                raise ValueError("truncated TGA packet stream")
            hdr = body[pos]
            pos += 1
            n = (hdr & 0x7F) + 1
            n_packets += 1
            if c + n > w:
                raise ValueError("TGA packet crosses a scan line")
            need = 3 if hdr & 0x80 else 3 * n
            if pos + need > len(body):
                raise ValueError("truncated TGA packet stream")
            if hdr & 0x80:
                row[c : c + n] = np.frombuffer(
                    body[pos : pos + 3], dtype=np.uint8
                )
                pos += 3
            else:
                row[c : c + n] = np.frombuffer(
                    body[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(n, 3)
                pos += 3 * n
            c += n
        rows.append(row)
    if pos != len(body):
        raise ValueError("TGA packet stream does not end at pixel count")
    img = np.stack(rows)
    if not desc & 0x20:  # origin bit clear = bottom-up
        img = img[::-1]
    px = img.astype(np.float64)
    return {
        "width": int(w),
        "height": int(h),
        "bpp": int(bpp),
        "n_packets": int(n_packets),
        "n_bytes": len(payload),
        "mean_px": float(px.mean()),
        "top_mean": float(px[0].mean()),
    }


TGA_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bpp", LongType()),
        StructField("n_packets", LongType()),
        StructField("n_bytes", LongType()),
        StructField("mean_px", DoubleType()),
        StructField("top_mean", DoubleType()),
    ]
)


# mm_tga_decode: a 30x16 grid of gray pixels, pixel (r, c) = stream byte
# r*(w//2) + c//2. Each byte covers two adjacent pixels, so the greedy
# encoder emits one run packet per maximal equal-byte run of a row and
# the payload is exactly 18 + 4*n_packets + 26 bytes.
_TGA_W, _TGA_H = 30, 16


def _tga_payload(text: str) -> bytes:
    g = np.frombuffer(
        _md5_stream(text, (_TGA_W // 2) * _TGA_H), dtype=np.uint8
    ).reshape(_TGA_H, _TGA_W // 2)
    px = np.repeat(g, 2, axis=1)[:, :, None].repeat(3, axis=2)
    return encode_tga_rle(np.ascontiguousarray(px))


# ---------------------------------------------------------------------------
# REAL TIFF codec — uncompressed multi-strip grayscale baseline
# TIFF: a FIFTH real container family, and the first TAG-DIRECTORY one.
# Where BMP/TGA/WAV are fixed-layout headers, TIFF is a self-describing
# IFD walk: 12-byte (tag, type, count, value-or-offset) entries, type-aware
# value decoding (SHORT inline vs LONG arrays behind offset indirection),
# and multi-strip pixel reassembly via the StripOffsets/StripByteCounts
# arrays — the structure every footer/zone-map-bearing format (and parquet
# itself) shares. Stdlib struct + numpy only.
# ---------------------------------------------------------------------------

_TIFF_TYPE_SIZE = {3: 2, 4: 4}  # SHORT, LONG — the two types baseline needs


def encode_tiff(pixels: "np.ndarray", rows_per_strip: int = 4) -> bytes:
    """REAL little-endian baseline TIFF encoder: ``pixels`` is (h, w)
    uint8 grayscale, written as ``ceil(h / rows_per_strip)`` uncompressed
    strips whose offsets/byte-counts live in LONG arrays BEHIND the IFD
    (count > 1 ⇒ the entry's value field is a file offset) — so a decoder
    must do the indirection for real."""
    h, w = pixels.shape
    assert pixels.dtype.itemsize == 1
    n_strips = (h + rows_per_strip - 1) // rows_per_strip
    ifd_off = 8
    n_entries = 9
    arrays_off = ifd_off + 2 + n_entries * 12 + 4
    # per spec, a value whose bytes fit the 4-byte value field is INLINE;
    # only count > 1 LONG arrays live behind the offset indirection
    inline = n_strips == 1
    counts_off = arrays_off + (0 if inline else 4 * n_strips)
    data_off = counts_off + (0 if inline else 4 * n_strips)
    strips = [
        pixels[s * rows_per_strip : (s + 1) * rows_per_strip].tobytes()
        for s in range(n_strips)
    ]
    offs, pos = [], data_off
    for s in strips:
        offs.append(pos)
        pos += len(s)

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        if typ == 3 and count == 1:
            return struct.pack("<HHIHH", tag, typ, count, value, 0)
        return struct.pack("<HHII", tag, typ, count, value)

    ifd = struct.pack("<H", n_entries) + b"".join(
        (
            entry(256, 3, 1, w),                 # ImageWidth
            entry(257, 3, 1, h),                 # ImageLength
            entry(258, 3, 1, 8),                 # BitsPerSample
            entry(259, 3, 1, 1),                 # Compression = none
            entry(262, 3, 1, 1),                 # Photometric = BlackIsZero
            entry(273, 4, n_strips,              # StripOffsets
                  offs[0] if inline else arrays_off),
            entry(277, 3, 1, 1),                 # SamplesPerPixel
            entry(278, 3, 1, rows_per_strip),    # RowsPerStrip
            entry(279, 4, n_strips,              # StripByteCounts
                  len(strips[0]) if inline else counts_off),
        )
    ) + struct.pack("<I", 0)
    head = struct.pack("<2sHI", b"II", 42, ifd_off)
    arrays = b"" if inline else struct.pack(
        f"<{n_strips}I", *offs
    ) + struct.pack(f"<{n_strips}I", *[len(s) for s in strips])
    return head + ifd + arrays + b"".join(strips)


def decode_tiff(payload: bytes) -> dict:
    """REAL baseline-TIFF decode — the tag-directory walk: verify the
    ``II*\\0`` header (big-endian ``MM`` TIFFs are refused loudly, not
    byte-swapped wrongly), walk the first IFD's 12-byte entries with
    type-aware value decoding (SHORT count-1 values are INLINE in the
    value field; LONG arrays with count > 1 sit at a file OFFSET the
    entry points to), then reassemble the pixel plane strip by strip
    from the StripOffsets/StripByteCounts arrays. Features are strip-
    and position-sensitive: a wrong strip order or a missed offset
    indirection breaks ``top_mean``/``bot_mean``; a stride mistake
    shears ``mean_px``."""
    if payload[:2] == b"MM":
        raise ValueError(
            "big-endian (MM) TIFF: this baseline decoder is little-endian "
            "only and refuses rather than byte-swap wrongly"
        )
    if payload[:4] != b"II\x2a\x00":
        raise ValueError(f"not a little-endian TIFF: {payload[:4]!r}")
    if len(payload) < 8:
        raise ValueError("truncated TIFF: header shorter than 8 bytes")
    (ifd_off,) = struct.unpack_from("<I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated TIFF: IFD offset past payload end")
    (n_entries,) = struct.unpack_from("<H", payload, ifd_off)
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        base = ifd_off + 2 + i * 12
        if base + 12 > len(payload):
            raise ValueError("truncated TIFF: IFD entry past payload end")
        tag, typ, count = struct.unpack_from("<HHI", payload, base)
        if typ not in _TIFF_TYPE_SIZE:
            raise ValueError(f"unsupported TIFF field type {typ} (tag {tag})")
        width = _TIFF_TYPE_SIZE[typ]
        fmt = "<H" if typ == 3 else "<I"
        if count * width <= 4:
            vals = [
                struct.unpack_from(fmt, payload, base + 8 + k * width)[0]
                for k in range(count)
            ]
        else:  # value field is an offset to the array — the indirection
            (off,) = struct.unpack_from("<I", payload, base + 8)
            if off + count * width > len(payload):
                raise ValueError("truncated TIFF: value array past end")
            vals = [
                struct.unpack_from(fmt, payload, off + k * width)[0]
                for k in range(count)
            ]
        tags[tag] = vals
    for required in (256, 257, 273, 279):
        if required not in tags:
            raise ValueError(f"TIFF missing required tag {required}")
    if tags.get(259, [1])[0] != 1:
        raise ValueError(
            f"only uncompressed TIFF decodes for real "
            f"(compression={tags[259][0]}); LZW/PackBits need expanders"
        )
    if tags.get(258, [8])[0] != 8 or tags.get(277, [1])[0] != 1:
        raise ValueError("only 8-bit single-sample grayscale supported")
    w, h = tags[256][0], tags[257][0]
    offs, counts = tags[273], tags[279]
    if len(offs) != len(counts):
        raise ValueError("StripOffsets/StripByteCounts length mismatch")
    parts = []
    for off, cnt in zip(offs, counts):
        if off + cnt > len(payload):
            raise ValueError("truncated TIFF: strip past payload end")
        parts.append(payload[off : off + cnt])
    plane = b"".join(parts)
    if len(plane) != w * h:
        raise ValueError(
            f"strip bytes {len(plane)} != width*height {w * h}"
        )
    px = np.frombuffer(plane, dtype=np.uint8).reshape(h, w).astype(np.float64)
    return {
        "width": int(w),
        "height": int(h),
        "n_strips": len(offs),
        "n_bytes": len(payload),
        "mean_px": float(px.mean()),
        "top_mean": float(px[0].mean()),
        "bot_mean": float(px[-1].mean()),
    }


TIFF_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_strips", LongType()),
        StructField("n_bytes", LongType()),
        StructField("mean_px", DoubleType()),
        StructField("top_mean", DoubleType()),
        StructField("bot_mean", DoubleType()),
    ]
)


# mm_tiff_decode: a 15x16 grayscale plane, pixel (r, c) = stream byte
# r*w + c (240 bytes = 15 md5 blocks), in 4 strips of 4 rows.
_TIFF_W, _TIFF_H = 15, 16


def _tiff_payload(text: str) -> bytes:
    px = _md5_stream(text, _TIFF_W * _TIFF_H)
    return encode_tiff(
        np.frombuffer(px, dtype=np.uint8).reshape(_TIFF_H, _TIFF_W)
    )
