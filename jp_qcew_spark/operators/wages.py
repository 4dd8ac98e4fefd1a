"""Wage time-series pipeline (SURVEY §3.3; reference data_process.py:190-274).

Dims (NAICS descriptions + invalid-code list — the reference reads Excel,
we consume CSV/parquet per SURVEY §7.3) are broadcast; the fact CSV chain is
lazy end-to-end; ``collect`` happens only at the API boundary (label domain).

time_frame semantics (data_process.py:207-223):
- "yearly"    → time_period = year           (long)
- "fiscal"    → time_period = f_year         (long)
- "quarterly" → time_period = "{year}-q{qtr}" (string label, P12)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jp_qcew_spark.io import order_result

TIME_FRAMES = ("yearly", "fiscal", "quarterly")


def load_wage_facts(
    spark: SparkSession, csv_path: str, time_frame: str
) -> DataFrame:
    """Read one wage-facts CSV and derive its time_period key."""
    df = spark.read.csv(csv_path, header=True, inferSchema=True)
    if time_frame == "yearly":
        return df.withColumn("time_period", F.col("year").cast("long"))
    if time_frame == "fiscal":
        return df.withColumn("time_period", F.col("f_year").cast("long"))
    if time_frame == "quarterly":
        return df.withColumn(
            "time_period",
            F.concat(
                F.col("year").cast("string"), F.lit("-q"), F.col("qtr").cast("string")
            ),
        )
    raise ValueError(
        f"time_frame must be one of {TIME_FRAMES}, got {time_frame!r}"
    )  # reference raises the same (data_process.py:222-223)


def enrich_wages(
    facts: DataFrame, naics_desc: DataFrame, invalid_codes: DataFrame
) -> DataFrame:
    """Join descriptions + exclude invalid codes (data_process.py:225-240).

    - naics_4digit = first 4 chars of naics_code (F1)
    - LEFT broadcast join on the ~300-row description dim (J1)
    - drop code "0" (P5) and table-sourced invalid codes via left_anti (J2 —
      the scale-correct form of the reference's isin-literal)
    """
    enriched = (
        facts.withColumn(
            "naics_4digit", F.substring(F.col("naics_code").cast("string"), 1, 4)
        )
        .join(F.broadcast(naics_desc), "naics_4digit", "left")
        .filter(F.col("naics_4digit") != "0")
        .join(
            F.broadcast(
                invalid_codes.select(
                    F.col("naics_data").cast("string").alias("naics_4digit")
                )
            ),
            "naics_4digit",
            "left_anti",
        )
    )
    return enriched.withColumn(
        "naics_desc_label",
        F.concat(
            F.lit("(N"), F.col("naics_4digit"), F.lit(") "), F.col("naics_desc")
        ),
    )


def filter_wages_data(
    enriched: DataFrame, measure: str, naics_desc_label: str
) -> DataFrame:
    """One labeled series: non-null/non-blank measure (P8), label equality
    (P9), groupBy time_period sum → ``nominas`` (A2), sorted (O1).
    Mirrors data_process.py:242-264."""
    return (
        enriched.filter(
            F.col(measure).isNotNull()
            & (F.trim(F.col(measure).cast("string")) != "")
        )
        .filter(F.col("naics_desc_label") == naics_desc_label)
        .groupBy("time_period")
        .agg(F.sum(F.col(measure).cast("double")).alias("nominas"))
        .transform(order_result, "time_period")
    )


def label_domain(enriched: DataFrame) -> list[str]:
    """Sorted distinct label domain for UI dropdowns (A4/O3,
    data_process.py:266-272). The one deliberate collect boundary."""
    rows = (
        enriched.select("naics_desc_label")
        .filter(F.col("naics_desc_label").isNotNull())
        .distinct()
        .transform(order_result, "naics_desc_label")
        .collect()
    )
    return [r[0] for r in rows]


def measure_column(data_type: str, selected_column: str) -> str:
    """Map (data_type, selected_column) → the measure column to plot —
    the reference's dispatch in gen_wages_graph (reference graph.py:88-103).
    ``nivel`` = level, ``primera_diferencia`` = first difference,
    ``cambio_porcentual`` = percent change; salary/payroll carry legacy
    special-case names, everything else uses the _diff/_diff_p suffix that
    ``timeseries.with_diffs`` computes natively (SURVEY §2.E)."""
    if data_type == "nivel":
        return selected_column
    special = {"average_salary": "salary", "total_wages": "payroll"}
    base = special.get(selected_column, selected_column)
    suffix = {"primera_diferencia": "_diff", "cambio_porcentual": "_diff_p"}
    if data_type not in suffix:
        raise ValueError(f"unknown data_type {data_type!r}")
    if selected_column in special:
        return base + suffix[data_type]
    return selected_column + suffix[data_type]
