"""Quarterly↔monthly time-series transforms (legacy data_viz semantics).

The reference's row-at-a-time pandas loop (data_viz.py:26-50) and resamples
(:53-73) re-expressed as Spark built-ins (SURVEY §2.J: unpivot + arithmetic),
with the reference's bugs fixed per SURVEY §7.3:
- ``groupby("year, quarter")`` string bug (data_viz.py:65) → real two-key
  groupBy.
- first-difference/%-change computed natively via lag windows (§2.E) instead
  of trusting precomputed columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jp_qcew_spark.io import order_result

_MONTH_OFFSET = {
    "first_month_employment": 1,
    "second_month_employment": 2,
    "third_month_employment": 3,
}


def to_monthly(quarterly: DataFrame) -> DataFrame:
    """Unpivot the 3 monthly-employment columns → one row per month with an
    assembled date: month = (qtr-1)*3 + k, day 1 (data_viz.py:26-50)."""
    long = quarterly.unpivot(
        ids=["year", "qtr"],
        values=list(_MONTH_OFFSET),
        variableColumnName="month_slot",
        valueColumnName="employment",
    )
    offset = F.create_map(
        *[x for k, v in _MONTH_OFFSET.items() for x in (F.lit(k), F.lit(v))]
    )
    return long.select(
        "year",
        "qtr",
        ((F.col("qtr") - 1) * 3 + offset[F.col("month_slot")]).alias("month"),
        "employment",
    ).withColumn(
        "date",
        F.make_date(F.col("year"), F.col("month"), F.lit(1)),
    )


def resample_yearly(monthly: DataFrame) -> DataFrame:
    """Monthly → yearly mean employment (data_viz.py:53-60)."""
    return (
        monthly.groupBy("year")
        .agg(F.avg("employment").alias("employment"))
        .withColumn("date", F.make_date(F.col("year"), F.lit(1), F.lit(1)))
        .transform(order_result, "year")
    )


def resample_quarterly(monthly: DataFrame) -> DataFrame:
    """Monthly → quarterly mean, dated at quarter-end month (data_viz.py:63-73
    with the groupby-string bug fixed)."""
    return (
        monthly.groupBy("year", "qtr")
        .agg(F.avg("employment").alias("employment"))
        .withColumn(
            "date", F.make_date(F.col("year"), F.col("qtr") * 3, F.lit(1))
        )
        .transform(order_result, "year", "qtr")
    )


def with_diffs(
    series: DataFrame,
    value_col: str,
    key_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Attach first-difference and %-change columns via lag windows —
    the native form of the reference's precomputed ``_diff``/``_diff_p``
    inputs (graph.py:88-103; SURVEY §2.E)."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    prev = F.lag(value_col).over(w)
    return series.withColumns(
        {
            f"{value_col}_diff": F.col(value_col) - prev,
            f"{value_col}_diff_p": (F.col(value_col) - prev) / prev * 100,
        }
    )
