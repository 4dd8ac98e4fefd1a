"""Multimodal queries over ``documents`` (north-star tier; ext.multimodal).

The payload layout (magic | md5(text) | utf-8 text) makes every byte the
decoder touches independently recomputable in DuckDB SQL — so even the
``mapInPandas`` Arrow-binary path is hash-verified, not just rows-counted.
Media kind is assigned deterministically by ``doc_id % 3``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jp_qcew_spark.ext import multimodal as M
from jp_qcew_spark.io import load_table, order_result

_KINDS = ["image", "audio", "video"]  # doc_id % 3 -> kind


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + synthetic binary payload column, kind by doc_id % 3."""
    d = load_table(spark, sf_dir, "documents")
    payload = (
        F.when(F.col("doc_id") % 3 == 0, M.synth_payload(F.col("text"), "image"))
        .when(F.col("doc_id") % 3 == 1, M.synth_payload(F.col("text"), "audio"))
        .otherwise(M.synth_payload(F.col("text"), "video"))
    )
    return d.select("doc_id", "text", payload.alias("payload"))


# DuckDB fragment: the same payload as a hex STRING (DuckDB cannot slice
# blobs, so the oracle works on hex; 2 hex chars == 1 payload byte).
_PAYLOAD_HEX = (
    "CASE WHEN doc_id % 3 = 0 THEN '89504E47' "
    "     WHEN doc_id % 3 = 1 THEN '52494646' "
    "     ELSE '000001BA' END || upper(md5(text)) || upper(hex(encode(text)))"
)


def q_mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata per media object from the binary column alone —
    magic-byte mime sniff + header-parsed dimensions, all whole-stage-codegen
    expressions (no Python)."""
    m = _media(spark, sf_dir)
    width, height = M.parsed_dims(F.col("payload"))
    return (
        m.select(
            "doc_id",
            M.sniff_mime(F.col("payload")).alias("mime"),
            F.length("payload").cast("long").alias("n_bytes"),
            width.alias("width"),
            height.alias("height"),
        )
        .filter(F.col("doc_id") < 200)
        .transform(order_result, "doc_id")
    )


ORACLE_MM_METADATA = f"""
WITH media AS (
  SELECT doc_id, {_PAYLOAD_HEX} AS hx FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       CASE substr(hx, 1, 8)
         WHEN '89504E47' THEN 'image/png'
         WHEN '52494646' THEN 'audio/wav'
         WHEN '000001BA' THEN 'video/mpeg'
         ELSE 'application/octet-stream' END AS mime,
       CAST(length(hx) / 2 AS BIGINT) AS n_bytes,
       CAST(('0x' || substr(hx, 9, 4)) AS BIGINT) AS width,
       CAST(('0x' || substr(hx, 13, 4)) AS BIGINT) AS height
FROM media ORDER BY doc_id
"""


def q_mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched byte-level decode via ``mapInPandas`` (the real multimodal
    plumbing: binary column → pandas bytes → parsed features). Hash-matching
    the SQL oracle proves the bytes crossed the Arrow boundary intact."""
    m = _media(spark, sf_dir).filter(F.col("doc_id") < 200)
    return M._decode(m, M.DECODE_SCHEMA, M.decode_media).transform(
        order_result, "doc_id"
    )


ORACLE_MM_DECODE = f"""
WITH media AS (
  SELECT doc_id, {_PAYLOAD_HEX} AS hx FROM documents WHERE doc_id < 200
), parsed AS (
  SELECT doc_id,
         CAST(length(hx) / 2 AS BIGINT) AS n_bytes,
         CAST(('0x' || substr(hx, 9, 4)) AS BIGINT) AS width,
         CAST(('0x' || substr(hx, 13, 4)) AS BIGINT) AS height,
         substr(hx, 1, 8) AS head_hex
  FROM media
)
SELECT doc_id, n_bytes, width, height, head_hex,
       (width * height + n_bytes) % 256 AS mean_px
FROM parsed ORDER BY doc_id
"""


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: every 3rd 16-byte frame of video-kind payloads,
    with an oracle-checkable per-frame signature. Explode keeps the work
    distributed (one output row per sampled frame, never whole payloads
    through the shuffle)."""
    vids = _media(spark, sf_dir).filter(
        (F.col("doc_id") % 3 == 2) & (F.col("doc_id") < 300)
    )
    return order_result(
        M.frame_samples(vids, "doc_id", "payload"), "doc_id", "frame_idx"
    )


ORACLE_MM_FRAMES = f"""
WITH vids AS (
  SELECT doc_id, lower({_PAYLOAD_HEX}) AS hx FROM documents
  WHERE doc_id % 3 = 2 AND doc_id < 300
), frames AS (
  SELECT doc_id, hx,
         unnest(range(0, CAST(floor((length(hx) / 2 - 4) / 16.0) AS BIGINT)))
           AS frame_idx
  FROM vids
)
SELECT doc_id, frame_idx,
       md5(substr(hx, 9 + frame_idx * 32, 32)) AS frame_sig
FROM frames WHERE frame_idx % 3 = 0 ORDER BY doc_id, frame_idx
"""


def _stream_sql(n: int) -> str:
    """DuckDB rows ``(doc_id, j, v)`` over documents with doc_id < 200 and
    j < n: ``v`` is byte j of the text's indexed-md5 stream. Block
    k = j // 16 is md5(text || '-' || k); byte i = j % 16 of it is hex
    chars 2i+1, 2i+2, parsed with positional instr arithmetic (no
    hex-string casts)."""
    return f"""
  SELECT doc_id, j,
         (instr('0123456789abcdef',
                substr(md5(text || '-' || (j // 16)), (j % 16) * 2 + 1, 1)) - 1) * 16
           + instr('0123456789abcdef',
                   substr(md5(text || '-' || (j // 16)), (j % 16) * 2 + 2, 1)) - 1 AS v
  FROM documents CROSS JOIN range(0, {n}) t(j)
  WHERE doc_id < 200"""


def _codec(spark: SparkSession, sf_dir: str, make, schema, decode) -> DataFrame:
    """documents (doc_id < 200) -> ``make`` payloads -> ``decode`` features
    in ``schema``, sorted by doc_id: two Arrow stages, so the encoded
    binary column itself crosses JVM↔Arrow."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return M._decode(M._payloads(d, make), schema, decode).transform(
        order_result, "doc_id"
    )


def q_mm_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: synthesize a genuine 4×4 P6 PPM per
    document (JVM-side expressions), decode it with numpy in Arrow batches
    (header parse → pixel plane → mean), including a real nearest-neighbor
    2× downsample. The oracle recomputes every pixel byte from md5(text) in
    SQL, so a hash match proves actual pixel arithmetic, not header math."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    img = d.select("doc_id", M.synth_ppm(F.col("text")).alias("payload"))
    return M._decode(img, M.PPM_SCHEMA, M.decode_netpbm).transform(
        order_result, "doc_id"
    )


# 4×4 RGB: 48 pixel bytes = 96 hex chars = md5(text) hex repeated 3×.
# byte i → pixel i//3, row (i//3)//4, col (i//3)%4; the downsample keeps
# even rows and even cols (numpy arr[::2, ::2]).
_MD5_GRID_SQL = """
m AS (
  SELECT doc_id, substr(repeat(md5(text), 3), 1, 96) AS hx
  FROM documents WHERE doc_id < 200
), b AS (
  SELECT doc_id, i,
         CAST(('0x' || substr(hx, i * 2 + 1, 2)) AS BIGINT) AS v,
         (i // 3) // 4 AS r, (i // 3) % 4 AS c
  FROM m CROSS JOIN range(0, 48) t(i)
)"""

ORACLE_MM_PPM_DECODE = f"""
WITH {_MD5_GRID_SQL}
SELECT doc_id,
       CAST(4 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       round(avg(v), 4) AS mean_px,
       round(avg(v) FILTER (r % 2 = 0 AND c % 2 = 0), 4) AS ds_mean_px
FROM b GROUP BY doc_id ORDER BY doc_id
"""


def q_mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-codec decode end-to-end: a genuine zlib-compressed
    PNG per document (CRC-correct chunks, rows filtered with all four
    non-trivial PNG scanline filters), decoded by ``decode_png`` (chunk
    walk + CRC verify + inflate + unfilter + pixel mean + real 2×
    downsample). Pixels follow the ``mm_ppm_decode`` rule, so a hash match
    proves the inflate/unfilter arithmetic is exact."""
    return _codec(spark, sf_dir, M._png_payload, M.PNG_FEATURES_SCHEMA,
                  M.decode_png)


# the mm_ppm_decode pixel rule, plus the IHDR bit depth the decoder must
# parse out of the real chunk.
ORACLE_MM_PNG_DECODE = f"""
WITH {_MD5_GRID_SQL}
SELECT doc_id,
       CAST(4 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST(8 AS BIGINT) AS bit_depth,
       round(avg(v), 4) AS mean_px,
       round(avg(v) FILTER (r % 2 = 0 AND c % 2 = 0), 4) AS ds_mean_px
FROM b GROUP BY doc_id ORDER BY doc_id
"""


def q_mm_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A second compression family: a genuine LZW-compressed GIF89a per
    document (grayscale 256-palette, 32x32), decoded by ``decode_gif``
    (header + LSD parse, palette read, sub-block reassembly,
    variable-code-width LZW with dictionary rebuild, palette map, mean +
    real 2x downsample). Pixels are indexed-md5 stream bytes, near-random
    on purpose: the LZW dictionary grows through the 512- and 1024-entry
    boundaries, so 9-, 10- and 11-bit codes all appear on the wire
    (pinned in tests)."""
    return _codec(spark, sf_dir, M._gif_payload, M.GIF_FEATURES_SCHEMA,
                  M.decode_gif)


# pixel p = stream byte p on a 32x32 grid, row p // 32, col p % 32; the
# grayscale palette is the identity, so pixel value = index. 1024 and 256
# are powers of two, so both means are exact dyadic doubles on both
# engines and ship UNROUNDED (round(x,4) on .90625-style dyadics is a tie
# Python and DuckDB break differently).
ORACLE_MM_GIF_DECODE = f"""
WITH px AS ({_stream_sql(1024)}
)
SELECT doc_id,
       CAST(32 AS BIGINT) AS width,
       CAST(32 AS BIGINT) AS height,
       CAST(256 AS BIGINT) AS palette_size,
       avg(v) AS mean_px,
       avg(v) FILTER ((j // 32) % 2 = 0 AND (j % 32) % 2 = 0) AS ds_mean_px
FROM px GROUP BY doc_id ORDER BY doc_id
"""


def q_mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: a genuine 44-byte-header PCM WAV per
    document (256 int16 samples at 8 kHz from the indexed-md5 stream),
    decoded by ``decode_wav`` (container verify, chunk walk with pad-byte
    alignment, PCM-only fmt gate, peak + RMS + integer duration). RMS is
    the sqrt of an exact dyadic mean (256 = 2^8 samples), so the hash
    match proves the sample plane is byte-exact, not just the header."""
    return _codec(spark, sf_dir, M._wav_payload, M.WAV_FEATURES_SCHEMA,
                  M.decode_wav)


# sample s <- bytes (2s, 2s+1) of the indexed-md5 stream: both bytes land
# in block s // 8 (md5(text||'-'||k)), hex offsets 2i+1 / 2i+3 for
# i = (2s) % 16; u = low + 256*high, sign-extended at 32768.
_WAV_SAMPLES_SQL = """
raw AS (
  SELECT doc_id, t.s AS s,
         md5(text || '-' || (t.s // 8)) AS h, ((2 * t.s) % 16) AS i
  FROM documents CROSS JOIN range(0, 256) t(s)
  WHERE doc_id < 200
), u AS (
  SELECT doc_id, s,
         (instr('0123456789abcdef', substr(h, 2 * i + 1, 1)) - 1) * 16
           + instr('0123456789abcdef', substr(h, 2 * i + 2, 1)) - 1
           + 256 * ((instr('0123456789abcdef', substr(h, 2 * i + 3, 1)) - 1) * 16
                    + instr('0123456789abcdef', substr(h, 2 * i + 4, 1)) - 1)
           AS uu
  FROM raw
), v AS (
  SELECT doc_id, s, CASE WHEN uu >= 32768 THEN uu - 65536 ELSE uu END AS v
  FROM u
)"""

ORACLE_MM_WAV_DECODE = f"""
WITH {_WAV_SAMPLES_SQL}
SELECT doc_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(16 AS BIGINT) AS bits,
       CAST(256 AS BIGINT) AS n_samples,
       CAST(32 AS BIGINT) AS duration_ms,
       CAST(max(abs(v)) AS BIGINT) AS peak,
       round(sqrt(avg(CAST(v AS DOUBLE) * v)), 6) AS rms
FROM v GROUP BY doc_id ORDER BY doc_id
"""


def q_mm_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A genuine 24-bit BI_RGB Windows BMP per document, decoded by
    ``decode_bmp`` (file+info header parse, 4-byte row-stride de-padding,
    bottom-up row flip, BGR plane). The 10x8 grid makes the stride REAL
    (30-byte rows padded to 32), and the features are position- and
    channel-sensitive: ``top_mean`` breaks if the decoder forgets the
    vertical flip, ``mean_b``/``mean_r`` swap if it confuses BGR with RGB.
    All means are unrounded doubles: exact integer sums (< 2^53) divided
    once, identical across numpy and both engines."""
    return _codec(spark, sf_dir, M._bmp_payload, M.BMP_FEATURES_SCHEMA,
                  M.decode_bmp)


# stream byte j is channel ch = j % 3 of pixel p = j // 3, pixel row
# r = p // 10. 240 bytes = 15 md5 blocks exactly.
ORACLE_MM_BMP_DECODE = f"""
WITH b AS ({_stream_sql(240)}
)
SELECT doc_id,
       CAST(10 AS BIGINT) AS width,
       CAST(8 AS BIGINT) AS height,
       CAST(24 AS BIGINT) AS bpp,
       avg(v) AS mean_px,
       avg(v) FILTER ((j // 3) // 10 = 0) AS top_mean,
       avg(v) FILTER (j % 3 = 0) AS mean_b,
       avg(v) FILTER (j % 3 = 2) AS mean_r
FROM b GROUP BY doc_id ORDER BY doc_id
"""


def q_mm_tga_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A third compression family on the wire: a genuine RLE-compressed
    true-color Targa (type 10) per document, decoded by ``decode_tga``
    (header parse, per-scanline run/raw packet walk with packet COUNTING,
    bottom-up flip). Every stream byte covers two adjacent gray pixels, so
    the oracle recomputes ``n_packets`` with a lag() over the byte stream
    and ``n_bytes`` as ``18 + 4*n_packets + 26`` exactly: a hash match
    proves the compression structure round-trips, not just the pixels."""
    return _codec(spark, sf_dir, M._tga_payload, M.TGA_FEATURES_SCHEMA,
                  M.decode_tga)


# stream byte j sits at scan line r = j // 15, in-row position j % 15
# (w=30, two pixels per byte -> 15 bytes/row); a packet starts wherever
# the byte differs from its predecessor in the row.
ORACLE_MM_TGA_DECODE = f"""
WITH b AS ({_stream_sql(240)}
), runs AS (
  SELECT doc_id, j // 15 AS r, v,
         CASE WHEN j % 15 = 0
                OR v != lag(v) OVER (PARTITION BY doc_id, j // 15 ORDER BY j)
              THEN 1 ELSE 0 END AS is_start
  FROM b
)
SELECT doc_id,
       CAST(30 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       CAST(24 AS BIGINT) AS bpp,
       CAST(sum(is_start) AS BIGINT) AS n_packets,
       CAST(18 + 4 * sum(is_start) + 26 AS BIGINT) AS n_bytes,
       avg(v) AS mean_px,
       avg(v) FILTER (r = 0) AS top_mean
FROM runs GROUP BY doc_id ORDER BY doc_id
"""


QUERIES = {
    "mm_metadata": q_mm_metadata,
    "mm_decode_features": q_mm_decode_features,
    "mm_frame_sample": q_mm_frame_sample,
    "mm_ppm_decode": q_mm_ppm_decode,
    "mm_png_decode": q_mm_png_decode,
    "mm_gif_decode": q_mm_gif_decode,
    "mm_wav_decode": q_mm_wav_decode,
    "mm_bmp_decode": q_mm_bmp_decode,
    "mm_tga_decode": q_mm_tga_decode,
}

ORACLE = {
    "mm_metadata": ORACLE_MM_METADATA,
    "mm_decode_features": ORACLE_MM_DECODE,
    "mm_frame_sample": ORACLE_MM_FRAMES,
    "mm_ppm_decode": ORACLE_MM_PPM_DECODE,
    "mm_png_decode": ORACLE_MM_PNG_DECODE,
    "mm_gif_decode": ORACLE_MM_GIF_DECODE,
    "mm_wav_decode": ORACLE_MM_WAV_DECODE,
    "mm_bmp_decode": ORACLE_MM_BMP_DECODE,
    "mm_tga_decode": ORACLE_MM_TGA_DECODE,
}


def q_mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAME-level audio features, the windowed analysis after
    ``mm_wav_decode``'s whole-file stats: decode each synthesized PCM WAV
    once and emit per-32-sample-frame peak, RMS energy and zero-crossing
    count (the energy-gating / VAD-style screen an audio curation pipeline
    runs before transcription). The 8× row fan-out happens INSIDE the
    Arrow batch (``ext.multimodal.wav_frame_features``), so the binary
    column crosses the JVM↔Python boundary exactly once per payload, and
    the numpy math is vectorized over (n_frames, 32) planes. A hash match
    with the oracle proves frame boundaries, signs, and energies are all
    sample-exact."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return order_result(
        M.wav_frame_features(M._payloads(d, M._wav_payload)), "doc_id", "frame"
    )


# the mm_wav_decode samples: frame = s // 32; ZCR counts sign boundary
# flips between consecutive samples WITHIN the frame (31 comparisons per
# frame).
ORACLE_MM_AUDIO_FRAMES = f"""
WITH {_WAV_SAMPLES_SQL}, lagd AS (
  SELECT doc_id, s // 32 AS frame, v,
         lag(v) OVER (PARTITION BY doc_id, s // 32 ORDER BY s) AS pv
  FROM v
)
SELECT doc_id,
       CAST(frame AS BIGINT) AS frame,
       CAST(max(abs(v)) AS BIGINT) AS peak,
       round(sqrt(avg(CAST(v AS DOUBLE) * v)), 6) AS rms,
       CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv >= 0) != (v >= 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zcr
FROM lagd GROUP BY doc_id, frame ORDER BY doc_id, frame
"""

QUERIES["mm_audio_frames"] = q_mm_audio_frames
ORACLE["mm_audio_frames"] = ORACLE_MM_AUDIO_FRAMES


def q_mm_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first TAG-DIRECTORY container: a genuine multi-strip
    little-endian baseline TIFF per document, decoded by ``decode_tiff``
    — the self-describing IFD walk (type-aware 12-byte entries, SHORT
    values inline, the 4-strip LONG StripOffsets/StripByteCounts arrays
    fetched through OFFSET INDIRECTION) followed by strip-by-strip pixel
    reassembly, the directory-then-indirection shape parquet footers
    share. ``top_mean`` and ``bot_mean`` break if the 4 strips reassemble
    out of order; ``n_bytes`` pins the whole 394-byte layout. Means are
    unrounded doubles: exact integer sums divided once, identical on numpy
    and both engines."""
    return _codec(spark, sf_dir, M._tiff_payload, M.TIFF_FEATURES_SCHEMA,
                  M.decode_tiff)


# stream byte j is pixel row r = j // 15. The layout is constant:
# 8 (header) + 2 + 9*12 + 4 (IFD) + 4*4 + 4*4 (strip arrays)
# + 240 (pixels) = 394 bytes, 4 strips of 4 rows.
ORACLE_MM_TIFF_DECODE = f"""
WITH b AS ({_stream_sql(240)}
)
SELECT doc_id,
       CAST(15 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       CAST(4 AS BIGINT) AS n_strips,
       CAST(394 AS BIGINT) AS n_bytes,
       avg(v) AS mean_px,
       avg(v) FILTER (j // 15 = 0) AS top_mean,
       avg(v) FILTER (j // 15 = 15) AS bot_mean
FROM b GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["mm_tiff_decode"] = q_mm_tiff_decode
ORACLE["mm_tiff_decode"] = ORACLE_MM_TIFF_DECODE
