"""QCEW ETL job — decode → type → mode-key → partitioned parquet (SURVEY §3.1).

Replaces the reference's serial per-file loop + per-file write
(data_process.py:47-95) with one distributed job, and FIXES its broken
idempotency check (SURVEY §1.2: the reference compares against a filename
that is never produced, data_process.py:53-55 vs :87 — here incremental
re-runs use dynamic partition overwrite instead).

Mode-keying: the reference names each output by the MODE of the parsed
(year, qtr) — a dirty-data guard (data_process.py:83-84) — because corrupt
lines can carry junk years (the golden output contains year 2200). We keep
the semantics but per-file and distributed: every line is keyed by its file's
modal (year, qtr), with ties broken to the smallest value (deterministic;
Spark's F.mode tie-break is arbitrary, SURVEY §7.3).

Scale: partitioned write on (year, qtr) gives partition pruning to every
downstream reader; the mode computation is a two-level aggregate on
(file, year, qtr) — tiny — broadcast back onto the lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.sources.fixed_width import (
    decode_exprs,
    decode_qcew,
    read_qcew_text,
    typed_qcew,
)


def file_mode_keys(typed: DataFrame) -> DataFrame:
    """Per source file, the modal (year, qtr) — deterministic min-of-modes;
    ``typed`` needs only (source_file, year, qtr)."""
    counted = (
        typed.groupBy("source_file", "year", "qtr")
        .count()
        .filter(F.col("year").isNotNull() & F.col("qtr").isNotNull())
    )
    w = Window.partitionBy("source_file").orderBy(
        F.col("count").desc(), F.col("year").asc(), F.col("qtr").asc()
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "source_file",
            F.col("year").alias("file_year"),
            F.col("qtr").alias("file_qtr"),
        )
    )


def run_etl(
    spark: SparkSession,
    input_glob: str,
    output_dir: str,
    incremental: bool = True,
) -> DataFrame:
    """Full ETL: read fixed-width glob → decode/type → mode-key → write
    parquet partitioned by (file_year, file_qtr). Returns the normalized
    DataFrame: a lazy read-back of what was written, under the written
    frame's own schema, so no inference job runs and the partition columns
    keep their declared types.

    ``incremental=True`` uses dynamic partition overwrite: re-processing a
    (year, qtr) replaces exactly that partition — correct idempotent loads
    (the fix for the reference's dead skip-check).
    """
    raw = read_qcew_text(spark, input_glob).filter(
        F.length(F.trim("value")) > 0
    )
    # deliberately NOT persisted: the mode-key pass decodes only (year, qtr)
    # from the first chunk of each line, so re-scanning the raw text is
    # cheaper than caching the 121-column decode, and at 100 TB caching the
    # corpus is not an option anyway
    typed = typed_qcew(decode_qcew(raw))
    keys = file_mode_keys(
        typed_qcew(raw.selectExpr("source_file", *decode_exprs(("year", "qtr"))))
    )
    keyed = typed.join(F.broadcast(keys), "source_file", "left").drop("source_file")
    # a per-write option, so the caller's session conf is left alone
    (
        keyed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic" if incremental else "static")
        .partitionBy("file_year", "file_qtr")
        .parquet(output_dir)
    )
    return spark.read.schema(keyed.schema).parquet(output_dir)
