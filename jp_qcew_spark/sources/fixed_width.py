"""Fixed-width QCEW text scan + decoder (SURVEY.md §2 S1-S4).

The reference reads latin-1 files line-by-line into Polars and slices 121
substrings per line (src/jp_qcew/data_process.py:113-133). Spark-first form:
a distributed line scan (one partition per file split) → ONE ``selectExpr``
of 121 slice-and-trim SQL expressions rendered from
``schema.qcew_fields.FIELDS`` — no Python in the loop, no driver-side file
iteration (replacing the reference's serial per-file loop,
data_process.py:47-60), and one py4j call to build the projection instead
of one per ``Column``.

Two-level slicing: ``UTF8String.substring`` walks the record from char 0
to find a start (UTF-8 is variable-width), so 121 flat slices cost work
quadratic in the record width. The contiguous layout is cut into chunks of
at most ``_CHUNK_CHARS`` chars; each field slices its chunk, and
subexpression elimination computes each chunk once per row. The projection
is not whole-stage-codegen'd: its 122 output fields exceed
``spark.sql.codegen.maxFields`` (100), so it runs as a plain ``Project``.

At 100 TB: text scan parallelizes by split; ``input_file_name()`` carries
provenance; the projection is map-only.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

from jp_qcew_spark.io import ensure_session_confs
from jp_qcew_spark.schema.qcew_fields import FIELDS, FLOAT_FIELDS, INT_FIELDS

# the full whitespace class the reference's ``str.strip_chars()`` strips
# (tabs and stray \r included), so a plain ``trim`` (ASCII space only)
# would decode dirty fields differently; rendered as raw characters in the
# SQL literal, which reads the same whatever
# ``spark.sql.parser.escapedStringLiterals`` says
_WS = " \t\r\n\x0b\x0c"
# chunk span: 64 and 256 decoded slower than 128 on the 1,060-char record
_CHUNK_CHARS = 128
_CASTS = {
    **dict.fromkeys(INT_FIELDS, "BIGINT"),
    **dict.fromkeys(FLOAT_FIELDS, "DOUBLE"),
}


def _chunked() -> dict[str, tuple[int, int, int, int]]:
    """name → (chunk start, chunk length, start within chunk, length); the
    fields are contiguous and in position order, so a greedy cut tiles the
    record."""
    chunks: list[list] = []
    for f in FIELDS:
        if not chunks or f[1] + f[2] - chunks[-1][0][1] > _CHUNK_CHARS:
            chunks.append([])
        chunks[-1].append(f)
    out = {}
    for members in chunks:
        g = members[0][1]
        glen = members[-1][1] + members[-1][2] - g
        for name, pos, length in members:
            out[name] = (g, glen, pos - g + 1, length)
    return out


_LAYOUT = _chunked()


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def decode_exprs(
    names: Iterable[str] | None = None, raw_col: str = "value"
) -> list[str]:
    """SQL text of the decode projection, one ``expr AS name`` per field
    (all 121 in layout order by default): the 1-based (position, length)
    slice of its chunk, whitespace-stripped."""
    raw = _q(raw_col)
    out = []
    for name in names or _LAYOUT:
        g, glen, p, length = _LAYOUT[name]
        chunk = f"substring({raw}, {g}, {glen})"
        out.append(f"btrim(substring({chunk}, {p}, {length}), '{_WS}') AS {_q(name)}")
    return out


def line_reader(
    reader: DataFrameReader | DataStreamReader, encoding: str = "ISO-8859-1"
) -> DataFrameReader | DataStreamReader:
    """Configure a ``DataFrameReader`` or ``DataStreamReader`` as a
    fixed-width line reader → one ``value`` string column per line.

    Spark's ``text`` source decodes UTF-8 only (its ``encoding`` option is
    ignored on read — latin-1 bytes like ñ/é become U+FFFD), so lines go
    through the CSV reader: a never-occurring separator, quoting disabled,
    whitespace kept (the fixed-width positions depend on it). The scan
    stays distributed and splittable and honors ``encoding``.
    """
    return (
        reader.format("csv")
        .option("encoding", encoding)
        .option("sep", "\x01")
        .option("quote", "")
        .option("header", "false")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .schema("value string")
    )


def read_qcew_text(
    spark: SparkSession, path: str, encoding: str = "ISO-8859-1"
) -> DataFrame:
    """Scan QCEW fixed-width file(s)/glob → raw lines + source file name
    (UTF-8 through the ``text`` source, anything else through
    ``line_reader``)."""
    if encoding.upper() in ("UTF-8", "UTF8"):
        reader = spark.read.format("text").load(path)
    else:
        reader = line_reader(spark.read, encoding).load(path)
    return reader.select(F.col("value"), F.input_file_name().alias("source_file"))


def decode_qcew(raw_df: DataFrame, raw_col: str = "value") -> DataFrame:
    """Raw lines → 121 typed-ready string columns (+ provenance if present).

    Blank/short lines decode to empty strings per slice — the numeric casts
    downstream turn those into nulls (reference cast(strict=False) semantics).
    """
    extra = ["source_file"] if "source_file" in raw_df.columns else []
    return raw_df.selectExpr(*decode_exprs(raw_col=raw_col), *extra)


def typed_qcew(decoded: DataFrame) -> DataFrame:
    """Apply the reference's 9 numeric casts (data_process.py:66-82),
    null-on-failure.

    Pins ANSI off first (idempotent), then uses plain non-ANSI ``CAST``
    — NOT ``try_cast``: with blank/malformed fields common in fixed-width
    feeds, try_cast's TryEval(ansi-Cast) throws-and-catches a JVM
    exception PER FAILING VALUE (measured 1.4 s/150k failures at sf0.1 on
    cast_nullsafe; a 100 TB ingest would drown in exception overhead),
    while the non-ANSI cast nulls failures exception-free.

    Two documented deviations from a hypothetical try_cast build
    (ADVICE r5):

    - **Fractional strings in integer fields**: non-ANSI
      ``cast('1.5' AS LONG)`` TRUNCATES to 1 where try_cast yields NULL.
      QCEW integer fields are whole-number employment/wage counts, so a
      fractional string is a corrupt byte slice either way; truncation
      (the lenient Hive/Polars ``strict=False`` family behavior) is the
      INTENDED semantics here and is pinned by
      tests/test_qcew_pipeline.py::test_typed_cast_fractional_truncates.
    - **Execution-time conf dependence**: null-on-failure holds only
      while ``spark.sql.ansi.enabled`` is still false at ACTION time.
      ``ensure_session_confs`` pins it at plan time, but a caller who
      re-enables ANSI between plan and action turns malformed rows into
      runtime exceptions — callers owning exotic conf lifecycles should
      re-assert ``ensure_session_confs`` before the action."""
    ensure_session_confs(decoded.sparkSession)
    return decoded.selectExpr(
        *(
            f"CAST({_q(c)} AS {_CASTS[c]}) AS {_q(c)}" if c in _CASTS else _q(c)
            for c in decoded.columns
        )
    )
