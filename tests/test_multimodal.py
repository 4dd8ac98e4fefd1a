"""Unit tests for ext.multimodal: stubbed codec contract, byte-twin parity
between the pandas decoder and the codegen expression path, frame slicing."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from jp_qcew_spark.ext import multimodal as M


def _payload(text: str, kind: str) -> bytes:
    md5 = hashlib.md5(text.encode()).digest()
    return bytes.fromhex(M.MAGIC_HEX[kind]) + md5 + text.encode()


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        M.decode_media(_payload("x", "image"), real=True)


def test_decode_media_parses_header_bytes():
    text = "hello multimodal"
    p = _payload(text, "image")
    feats = M.decode_media(p)
    md5 = hashlib.md5(text.encode()).digest()
    assert feats["width"] == (md5[0] << 8) | md5[1]
    assert feats["height"] == (md5[2] << 8) | md5[3]
    assert feats["n_bytes"] == 20 + len(text.encode())
    assert feats["head_hex"] == "89504E47"


def test_synth_payload_and_dims_match_python(spark):
    text = "abc def ghi"
    df = spark.createDataFrame([(text,)], "text string")
    w, h = M.parsed_dims(M.synth_payload(F.col("text"), "video"))
    row = df.select(
        M.synth_payload(F.col("text"), "video").alias("p"),
        w.alias("w"),
        h.alias("h"),
        M.sniff_mime(M.synth_payload(F.col("text"), "video")).alias("mime"),
    ).first()
    assert bytes(row.p) == _payload(text, "video")
    feats = M.decode_media(bytes(row.p))
    assert (row.w, row.h) == (feats["width"], feats["height"])
    assert row.mime == "video/mpeg"


def test_frame_samples_match_python_twin(spark):
    text = "0123456789" * 5  # 50 bytes -> 70-byte payload -> 4 full frames
    df = spark.createDataFrame([(1, text)], "doc_id long, text string").select(
        "doc_id", M.synth_payload(F.col("text"), "video").alias("payload")
    )
    rows = M.frame_samples(df, "doc_id", "payload", every=1).collect()
    p = _payload(text, "video")
    assert [r.frame_idx for r in rows] == [0, 1, 2, 3]
    for r in rows:
        assert r.frame_sig == M.frame_sig_py(p, r.frame_idx)


def test_minhash_forms_agree(spark):
    """ext.dedup exposes two MinHash implementations — the array-lambda form
    (minhash_array) and the exploded partial-agg form (minhash_from_exploded,
    the hot path). Same hash family → identical signatures, always."""
    from pyspark.sql import functions as F

    from jp_qcew_spark.ext import dedup as D

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs"),
         (3, "the quick brown fox jumps over a sleeping dog")],
        "doc_id long, text string",
    )
    k = 6
    arr = docs.select(
        "doc_id", D.minhash_array(D.word_shingles(F.col("text")), k).alias("sig")
    ).collect()
    ex = D.minhash_from_exploded(
        D.exploded_shingles(docs, "doc_id", "text"), "doc_id", k
    ).collect()
    by_id_arr = {r.doc_id: list(r.sig) for r in arr}
    by_id_ex = {r.doc_id: [r[f"mh_{i}"] for i in range(k)] for r in ex}
    assert by_id_arr == by_id_ex


def test_decode_netpbm_p6_real_pixels():
    import numpy as np

    w, h = 4, 2
    pixels = bytes(range(w * h * 3))
    payload = f"P6\n{w} {h}\n255\n".encode() + pixels
    feats = M.decode_netpbm(payload)
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)
    assert feats["width"] == w and feats["height"] == h
    assert feats["channels"] == 3
    assert feats["mean_px"] == round(float(arr.mean()), 4)
    assert feats["ds_mean_px"] == round(float(arr[::2, ::2].mean()), 4)


def test_decode_netpbm_p5_with_comment_header():
    payload = b"P5\n# a comment line\n3 2\n255\n" + bytes([0, 10, 20, 30, 40, 50])
    feats = M.decode_netpbm(payload)
    assert feats["width"] == 3 and feats["height"] == 2
    assert feats["channels"] == 1
    assert feats["mean_px"] == 25.0
    # downsample keeps rows {0}, cols {0, 2} -> bytes 0 and 20
    assert feats["ds_mean_px"] == 10.0


def test_decode_netpbm_rejects_non_netpbm():
    with pytest.raises(ValueError, match="not a netpbm"):
        M.decode_netpbm(b"\x89PNGxxxx")


def test_synth_ppm_decodes_via_spark(spark):
    """JVM-side synthesis -> Arrow batch -> real numpy decode roundtrip."""
    import hashlib as H

    df = spark.createDataFrame([(1, "some doc text")], "doc_id long, text string")
    img = df.select("doc_id", M.synth_ppm(F.col("text")).alias("payload"))
    (row,) = M._decode(img, M.PPM_SCHEMA, M.decode_netpbm).collect()
    md5hex = H.md5("some doc text".encode()).hexdigest()
    pixels = bytes.fromhex((md5hex * 3)[: 96])
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(4, 4, 3)
    assert (row.width, row.height, row.channels) == (4, 4, 3)
    assert row.mean_px == round(float(arr.mean()), 4)
    assert row.ds_mean_px == round(float(arr[::2, ::2].mean()), 4)


def test_png_roundtrip_all_filters():
    """encode_png cycles filters Sub/Up/Average/Paeth by row; an 8-row image
    hits each twice, so a broken unfilter branch shifts the pixel mean."""
    import numpy as np

    arr = (np.arange(8 * 6 * 3, dtype=np.uint32) * 37 % 256).astype(
        np.uint8
    ).reshape(8, 6, 3)
    png = M.encode_png(arr)
    assert png[:8] == M.PNG_SIGNATURE
    feats = M.decode_png(png)
    assert (feats["width"], feats["height"], feats["channels"]) == (6, 8, 3)
    assert feats["bit_depth"] == 8
    assert feats["mean_px"] == round(float(arr.mean()), 4)
    assert feats["ds_mean_px"] == round(float(arr[::2, ::2].mean()), 4)


def test_png_decode_verifies_crc():
    import numpy as np

    arr = np.zeros((4, 4, 3), dtype=np.uint8)
    png = bytearray(M.encode_png(arr))
    png[-17] ^= 0xFF  # flip a byte inside the IEND/IDAT CRC region
    with pytest.raises(ValueError, match="CRC|length|filter"):
        M.decode_png(bytes(png))


def test_decode_media_real_dispatches_to_png():
    """The round-4 NotImplementedError gate is closed for PNG: a genuine
    8-byte-signature payload decodes for real; non-PNG codecs still gate."""
    import numpy as np

    arr = (np.arange(48, dtype=np.uint8)).reshape(4, 4, 3)
    feats = M.decode_media(M.encode_png(arr), real=True)
    assert feats["mean_px"] == round(float(arr.mean()), 4)
    with pytest.raises(NotImplementedError):
        M.decode_media(_payload("x", "audio"), real=True)


def test_synth_png_features_via_spark(spark):
    """Two Arrow stages: pandas PNG encode -> compressed binary column ->
    pandas real decode; features must match the md5-pixel rule exactly."""
    import hashlib as H

    import numpy as np

    df = spark.createDataFrame(
        [(7, "png doc text")], "doc_id long, text string"
    )
    (row,) = M._decode(
        M._payloads(df, M._png_payload), M.PNG_FEATURES_SCHEMA, M.decode_png
    ).collect()
    md5hex = H.md5("png doc text".encode()).hexdigest()
    arr = np.frombuffer(
        bytes.fromhex((md5hex * 3)[:96]), dtype=np.uint8
    ).reshape(4, 4, 3)
    assert (row.width, row.height, row.channels, row.bit_depth) == (4, 4, 3, 8)
    assert row.mean_px == round(float(arr.mean()), 4)
    assert row.ds_mean_px == round(float(arr[::2, ::2].mean()), 4)


# ---------------------------------------------------------------------------
# GIF / LZW (round 6): the second real stdlib codec
# ---------------------------------------------------------------------------


def test_lzw_roundtrip_adversarial_patterns():
    """Round-trip through the real encoder+decoder for the LZW corner
    cases: cScSc (code == next_code, 'all-same' hits it immediately),
    short-period repeats, periodic md5 blocks, random bytes, and a stream
    long enough to fill the 4096-entry table and force a mid-stream
    CLEAR + dictionary rebuild."""
    import random

    cases = {
        "all-same-cScSc": b"\x07" * 1000,
        "abab": b"ab" * 600,
        "periodic-md5": hashlib.md5(b"x").digest() * 64,
        "random": bytes(random.Random(42).randbytes(5000)),
        "single": b"\x00",
        "table-full-clear": bytes(random.Random(1).randbytes(20000)),
    }
    for name, data in cases.items():
        assert M._lzw_decode(M._lzw_encode(data, 8), 8) == data, name


def test_lzw_width_growth_exercised_on_query_shape():
    """The mm_gif_decode pixel rule (64 indexed md5 blocks, 32x32) must
    push the dictionary past the 512- AND 1024-entry boundaries so 9-,
    10- and 11-bit codes all appear on the wire — otherwise the
    variable-width machinery would be dead code at query time."""
    blocks = b"".join(
        hashlib.md5(f"doc-{k}".encode()).digest() for k in range(64)
    )
    stream = M._lzw_encode(blocks, 8)
    # instrumented decode: track the maximum code width reached
    clear, end = 256, 257
    pos, width, next_code, prev, max_width = 0, 9, 258, None, 9
    table = [bytes([i]) for i in range(256)] + [b"", b""]
    while True:
        b0, bit0 = divmod(pos, 8)
        acc = 0
        for k in range((bit0 + width + 7) // 8):
            if b0 + k < len(stream):
                acc |= stream[b0 + k] << (8 * k)
        code = (acc >> bit0) & ((1 << width) - 1)
        pos += width
        if code == clear:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width, next_code, prev = 9, 258, None
            continue
        if code == end:
            break
        entry = table[code] if code < next_code else prev + prev[:1]
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
                max_width = max(max_width, width)
        prev = entry
    assert max_width >= 11


def test_gif_roundtrip_and_features():
    blocks = b"".join(
        hashlib.md5(f"doc-{k}".encode()).digest() for k in range(64)
    )
    idx = np.frombuffer(blocks, dtype=np.uint8).reshape(32, 32)
    payload = M.encode_gif(idx)
    assert payload[:6] == b"GIF89a" and payload[-1:] == b"\x3B"
    d = M.decode_gif(payload)
    assert (d["width"], d["height"], d["palette_size"]) == (32, 32, 256)
    assert d["mean_px"] == float(idx.mean())
    assert d["ds_mean_px"] == float(idx[::2, ::2].mean())


def test_gif_decode_skips_extension_blocks():
    """Real GIFs carry 0x21 extension blocks (GCE, comments) before the
    image descriptor; the parser must walk their sub-block chains."""
    idx = np.arange(16, dtype=np.uint8).reshape(4, 4)
    payload = bytearray(M.encode_gif(idx))
    # splice a Graphic Control Extension after the GCT (13 + 768 bytes)
    gce = b"\x21\xF9\x04\x00\x00\x00\x00\x00"
    at = 13 + 768
    spliced = bytes(payload[:at]) + gce + bytes(payload[at:])
    d = M.decode_gif(spliced)
    assert (d["width"], d["height"]) == (4, 4)
    assert d["mean_px"] == float(idx.mean())


def test_gif_decode_rejects_color_palette():
    """Pixel value is only well-defined through a grayscale palette; a
    color GCT must be refused, not silently averaged."""
    idx = np.zeros((2, 2), dtype=np.uint8)
    payload = bytearray(M.encode_gif(idx))
    payload[13 + 3 * 7 + 1] ^= 0xFF  # corrupt G of palette entry 7
    with pytest.raises(ValueError, match="grayscale"):
        M.decode_gif(bytes(payload))


def test_decode_media_real_dispatches_to_gif():
    idx = np.full((2, 2), 9, dtype=np.uint8)
    d = M.decode_media(M.encode_gif(idx), real=True)
    assert d["mean_px"] == 9.0 and d["palette_size"] == 256


# ---------------------------------------------------------------------------
# WAV / PCM (round 6): the audio modality decoded for real
# ---------------------------------------------------------------------------


def test_wav_roundtrip_and_features():
    s = np.array([0, 100, -100, 32767, -32768, 7, -1, 500], dtype="<i2")
    payload = M.encode_wav(s, sample_rate=8000)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    d = M.decode_wav(payload)
    assert (d["sample_rate"], d["channels"], d["bits"]) == (8000, 1, 16)
    assert d["n_samples"] == 8 and d["duration_ms"] == 1
    assert d["peak"] == 32768
    import math

    assert d["rms"] == round(math.sqrt(float((s.astype("i8") ** 2).mean())), 6)


def test_wav_chunk_walk_skips_unknown_chunks():
    """Real WAVs carry LIST/INFO (and odd-size) chunks between fmt and
    data; the parser must skip them with word alignment."""
    import struct

    s = np.arange(16, dtype="<i2")
    payload = bytearray(M.encode_wav(s))
    # splice an odd-sized LIST chunk right after the fmt chunk (ends at 36)
    info = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad byte
    spliced = bytes(payload[:36]) + info + bytes(payload[36:])
    # patch the RIFF size
    spliced = (
        spliced[:4]
        + struct.pack("<I", len(spliced) - 8)
        + spliced[8:]
    )
    d = M.decode_wav(spliced)
    assert d["n_samples"] == 16 and d["peak"] == 15


def test_wav_rejects_compressed_formats():
    """Only PCM decodes for real; an ADPCM/mu-law format code must be
    refused loudly, not mis-decoded."""
    import struct

    payload = bytearray(M.encode_wav(np.zeros(4, dtype="<i2")))
    payload[20:22] = struct.pack("<H", 7)  # mu-law
    with pytest.raises(ValueError, match="PCM"):
        M.decode_wav(bytes(payload))


def test_decode_media_real_dispatches_to_wav():
    d = M.decode_media(
        M.encode_wav(np.full(4, 3, dtype="<i2")), real=True
    )
    assert d["peak"] == 3 and d["n_samples"] == 4


# --------------------------------------------------------------------------
# BMP (round 7): uncompressed BI_RGB container — stride, flip, BGR
# --------------------------------------------------------------------------


def test_bmp_roundtrip_stride_flip_channels():
    """10x8 needs REAL stride handling (30-byte rows padded to 32); the
    asymmetric test image pins the bottom-up flip (top_mean) and the BGR
    channel layout (mean_b/mean_r)."""
    px = np.arange(10 * 8 * 3, dtype=np.uint8).reshape(8, 10, 3)
    payload = M.encode_bmp(px)
    assert len(payload) == 14 + 40 + 32 * 8  # padded stride on the wire
    d = M.decode_bmp(payload)
    f = px.astype(float)
    assert (d["width"], d["height"], d["bpp"]) == (10, 8, 24)
    assert d["mean_px"] == f.mean()
    assert d["top_mean"] == f[0].mean()  # wrong flip -> bottom row
    assert d["mean_b"] == f[:, :, 0].mean()
    assert d["mean_r"] == f[:, :, 2].mean()  # BGR/RGB mixup swaps these


def test_bmp_rejects_compressed_and_truncated():
    import struct

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    payload = bytearray(M.encode_bmp(px))
    payload[30:34] = struct.pack("<I", 1)  # BI_RLE8
    with pytest.raises(ValueError, match="BI_RGB"):
        M.decode_bmp(bytes(payload))
    with pytest.raises(ValueError, match="size"):
        M.decode_bmp(bytes(M.encode_bmp(px))[:-4])
    with pytest.raises(ValueError, match="BMP"):
        M.decode_bmp(b"XX" + bytes(M.encode_bmp(px))[2:])


def test_decode_media_real_dispatches_to_bmp():
    px = np.full((2, 2, 3), 7, dtype=np.uint8)
    d = M.decode_media(M.encode_bmp(px), real=True)
    assert d["mean_px"] == 7.0 and d["width"] == 2


# --------------------------------------------------------------------------
# TGA type 10 (round 7): REAL RLE — the third compression family on the
# wire after DEFLATE (PNG) and LZW (GIF)
# --------------------------------------------------------------------------


def test_tga_rle_roundtrip_counts_packets():
    """Mixed run/raw content: [5,5,5, 1,2,3, 9,9] per row must encode as
    run(3) + raw(3) + run(2) = 3 packets, and decode byte-exact."""
    row = np.array([5, 5, 5, 1, 2, 3, 9, 9], dtype=np.uint8)
    px = np.tile(row, (4, 1))[:, :, None].repeat(3, axis=2)
    d = M.decode_tga(M.encode_tga_rle(np.ascontiguousarray(px)))
    assert d["n_packets"] == 3 * 4
    assert d["mean_px"] == px.astype(float).mean()


def test_tga_packets_do_not_cross_scanlines():
    """Two all-equal rows must be TWO run packets (one per scan line),
    never one 2w-pixel run — the spec forbids crossing, and the oracle's
    per-row lag() computation depends on it."""
    px = np.full((2, 8, 3), 42, dtype=np.uint8)
    d = M.decode_tga(M.encode_tga_rle(px))
    assert d["n_packets"] == 2


def test_tga_flip_and_raw_packets():
    px = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(4, 5, 3)  # all raw
    d = M.decode_tga(M.encode_tga_rle(px))
    assert d["n_packets"] == 4  # one raw packet per row
    assert d["top_mean"] == px[0].astype(float).mean()


def test_tga_run_cap_at_128():
    """A 300-pixel constant scan line must split at the 128-pixel packet
    cap: 128 + 128 + 44."""
    px = np.full((1, 300, 3), 9, dtype=np.uint8)
    d = M.decode_tga(M.encode_tga_rle(px))
    assert d["n_packets"] == 3 and d["width"] == 300


def test_tga_rejects_uncompressed_and_footerless():
    import struct

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    payload = bytearray(M.encode_tga_rle(px))
    payload[2] = 2  # type 2 = uncompressed true-color
    with pytest.raises(ValueError, match="type"):
        M.decode_tga(bytes(payload))
    with pytest.raises(ValueError, match="footer"):
        M.decode_tga(bytes(M.encode_tga_rle(px))[: -len(M.TGA_FOOTER)])


def test_tga_truncated_packet_stream_raises_valueerror():
    """A packet stream cut mid-packet must raise the malformed-input
    ValueError like every other decoder path, not an IndexError from the
    bytes indexing (ADVICE r7): truncate the body both mid-header and
    mid-pixel and keep the footer intact so only the packet walk trips."""
    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    payload = M.encode_tga_rle(np.ascontiguousarray(px))
    body_len = len(payload) - 18 - len(M.TGA_FOOTER)
    for cut in (1, body_len // 2, body_len - 1):
        clipped = payload[: 18 + cut] + M.TGA_FOOTER
        with pytest.raises(ValueError, match="truncated TGA|ends at pixel"):
            M.decode_tga(clipped)


def test_decode_media_real_dispatches_to_tga():
    px = np.full((2, 2, 3), 11, dtype=np.uint8)
    d = M.decode_media(M.encode_tga_rle(px), real=True)
    assert d["mean_px"] == 11.0 and d["n_packets"] == 2


def test_wav_frame_features_math():
    """Frame peak/RMS/ZCR on a hand-computable 64-sample signal (two
    32-sample frames): frame 0 alternates +/-100 (31 crossings), frame 1
    is the constant 7 (0 crossings, rms exactly 7.0)."""
    import math

    f0 = np.tile([100, -100], 16).astype("<i2")
    f1 = np.full(32, 7, dtype="<i2")
    payload = M.encode_wav(np.concatenate([f0, f1]), sample_rate=8000)
    _sr, _ch, _bits, s = M._wav_plane(payload)
    assert s.shape == (64,) and s.dtype == np.int64
    fr = s.reshape(2, 32)
    nonneg = fr >= 0
    zcr = (nonneg[:, 1:] != nonneg[:, :-1]).sum(axis=1)
    assert list(zcr) == [31, 0]
    assert int(np.abs(fr[0]).max()) == 100 and int(np.abs(fr[1]).max()) == 7
    rms0 = round(float(np.sqrt((fr[0].astype("f8") ** 2).mean())), 6)
    assert rms0 == round(math.sqrt(100.0 * 100.0), 6) == 100.0
    assert round(float(np.sqrt((fr[1].astype("f8") ** 2).mean())), 6) == 7.0


def test_wav_frames_conserve_energy_and_peak():
    """Sum of per-frame energies equals the whole-file energy and the file
    peak is the max frame peak — ties the frame stage to decode_wav on the
    same payload with no shared aggregation code."""
    from jp_qcew_spark.ext import multimodal as M

    rng = np.random.default_rng(7)
    s = rng.integers(-32768, 32768, size=256, dtype=np.int64).astype("<i2")
    payload = M.encode_wav(s, sample_rate=8000)
    d = M.decode_wav(payload)
    _sr, _ch, _bits, plane = M._wav_plane(payload)
    fr = plane.reshape(8, 32)
    frame_energy = (fr.astype(np.float64) ** 2).sum(axis=1)
    total = (plane.astype(np.float64) ** 2).sum()
    assert frame_energy.sum() == pytest.approx(total, rel=0)
    assert int(np.abs(fr).max()) == d["peak"]
    # whole-file rms derives from the same energy
    assert d["rms"] == pytest.approx(
        round(float(np.sqrt(total / 256)), 6), abs=0
    )


def test_tiff_roundtrip_multistrip_indirection():
    """Encode/decode a 15x16 grayscale baseline TIFF: 4 strips whose
    LONG offset/count arrays live BEHIND the IFD (count*4 > 4 forces the
    offset indirection), bot/top means pin the strip reassembly order."""
    px = np.arange(240, dtype=np.uint8).reshape(16, 15)
    d = M.decode_tiff(M.encode_tiff(px))
    assert (d["width"], d["height"], d["n_strips"]) == (15, 16, 4)
    assert d["n_bytes"] == 394
    assert d["mean_px"] == px.astype(float).mean()
    assert d["top_mean"] == px[0].astype(float).mean()
    assert d["bot_mean"] == px[-1].astype(float).mean()


def test_tiff_inline_short_values_no_indirection():
    """A 2-row single-strip image keeps StripOffsets/Counts at count 1
    (4 bytes, inline in the value field) — both value paths decode."""
    px = np.full((2, 3), 9, dtype=np.uint8)
    d = M.decode_tiff(M.encode_tiff(px, rows_per_strip=2))
    assert d["n_strips"] == 1 and d["mean_px"] == 9.0


def test_tiff_rejects_bigendian_compressed_truncated():
    """Malformed-input discipline: big-endian MM refused loudly (not
    byte-swapped wrongly), non-1 compression refused, strip or IFD
    truncation raises the malformed-input ValueError, never IndexError."""
    px = np.arange(240, dtype=np.uint8).reshape(16, 15)
    payload = M.encode_tiff(px)
    with pytest.raises(ValueError, match="big-endian"):
        M.decode_tiff(b"MM" + payload[2:])
    with pytest.raises(ValueError, match="not a little-endian TIFF"):
        M.decode_tiff(b"IIxx" + payload[4:])
    # flip the Compression entry's inline SHORT value (entry 3 of the IFD)
    comp_entry_val = 8 + 2 + 3 * 12 + 8
    bad = bytearray(payload)
    bad[comp_entry_val] = 5  # LZW
    with pytest.raises(ValueError, match="compression=5"):
        M.decode_tiff(bytes(bad))
    for cut in (6, 100, 150, len(payload) - 1):
        with pytest.raises(ValueError, match="truncated TIFF|strip bytes"):
            M.decode_tiff(payload[:cut])


def test_decode_media_real_dispatches_to_tiff():
    px = np.full((4, 4), 13, dtype=np.uint8)
    d = M.decode_media(M.encode_tiff(px), real=True)
    assert d["mean_px"] == 13.0 and d["n_strips"] == 1


# --------------------------------------------------------------------------
# The indexed-md5 stream: the oracles' SQL fragment against the payload
# makers' Python stream
# --------------------------------------------------------------------------


def test_stream_sql_matches_md5_stream():
    """``queries.multimodal._stream_sql`` (the GIF/BMP/TGA/TIFF oracles'
    byte source) and ``_md5_stream`` (the payload makers') are written
    independently. Run the fragment in DuckDB over texts with multi-byte
    UTF-8 and compare every byte of a 240-byte stream, so the 16-byte
    block boundaries (j = 15 | 16) and the last byte (j = 239) are all
    checked, as are both hex nibbles of each byte."""
    import duckdb

    from jp_qcew_spark.queries.multimodal import _stream_sql

    texts = {1: "señor café", 2: "ñ", 3: "é-0", 4: "plain ascii", 5: ""}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(texts.items()))
    rows = con.sql(_stream_sql(240)).fetchall()
    con.close()
    got = {(d, j): v for d, j, v in rows}
    assert len(got) == len(rows) == 240 * len(texts)
    for d, t in texts.items():
        stream = M._md5_stream(t, 240)
        assert len(stream) == 240
        for j in (15, 16, 239):
            assert got[(d, j)] == stream[j], (t, j)
        assert [got[(d, j)] for j in range(240)] == list(stream), t
