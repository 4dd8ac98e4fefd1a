"""Driver-visible QCEW wages + timeseries pipelines (SURVEY §3.3 / §2.E/J).

The wage chain (operators.wages: enrich → invalid-code anti-join → label
synthesis → measure filter → per-period sum, reference data_process.py:
190-274) and the quarterly↔monthly resamples (operators.timeseries,
reference data_viz.py:26-73) were pytest-only in round 1; here they run over
the driver's oracle tables so S8/A2/A5/A6/F9/F10/P9/P12/J1/J2 get
driver-checked CORRECTNESS rows (VERDICT r1 #8).

Mapping onto the oracle tables (nation/region are fixed 25/5-row dims at
every SF, so labels are deterministic):
- wage facts   = orders ⋈ customer: naics_code = str(1000 + c_nationkey)+"00",
  year/qtr from o_orderdate, measure total_wages = o_totalprice
- naics dim    = nation: naics_4digit = str(1000 + n_nationkey), desc = n_name
- invalid codes = region: 1000 + r_regionkey (codes 1000-1004 excluded)
- quarterly employment = per-(year, qtr) order counts split into the three
  month slots — the reference's first/second/third_month_employment shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jp_qcew_spark.io import load_table, order_result
from jp_qcew_spark.operators import timeseries as T
from jp_qcew_spark.operators.wages import enrich_wages, filter_wages_data

_SERIES_LABEL = "(N1009) NATION_9"  # n_nationkey=9: fixed at every SF


def _wage_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # no broadcast hint: customer GROWS with the corpus (1:10 with orders)
    # — an unbounded broadcast at 100 TB. AQE broadcasts it while small.
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.concat(
                (F.lit(1000) + F.col("c_nationkey")).cast("string"), F.lit("00")
            ).alias("naics_code"),
            F.year("o_orderdate").alias("year"),
            F.quarter("o_orderdate").alias("qtr"),
            F.col("o_totalprice").alias("total_wages"),
        )
        .withColumn(
            "time_period",
            F.concat(
                F.col("year").cast("string"),
                F.lit("-q"),
                F.col("qtr").cast("string"),
            ),
        )
    )


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    naics_desc = n.select(
        (F.lit(1000) + F.col("n_nationkey")).cast("string").alias("naics_4digit"),
        F.col("n_name").alias("naics_desc"),
    )
    invalid = r.select((F.lit(1000) + F.col("r_regionkey")).alias("naics_data"))
    return enrich_wages(_wage_facts(spark, sf_dir), naics_desc, invalid)


def q_wages_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One labeled wage series end-to-end: quarterly time_period label (P12),
    broadcast dim join (J1), invalid-code anti-join (J2), non-blank measure
    gate (P8), label equality (P9), groupBy-sum → nominas (A2), sorted (O1).
    Composition of the wages operators, not a re-implementation."""
    series = filter_wages_data(
        _enriched(spark, sf_dir), "total_wages", _SERIES_LABEL
    )
    return series.select(
        "time_period", F.round("nominas", 2).alias("nominas")
    ).orderBy("time_period")


ORACLE_WAGES_SERIES = """
WITH facts AS (
  SELECT CAST(1000 + c_nationkey AS VARCHAR) || '00' AS naics_code,
         year(o_orderdate) AS year, quarter(o_orderdate) AS qtr,
         o_totalprice AS total_wages
  FROM orders JOIN customer ON o_custkey = c_custkey
), enriched AS (
  SELECT f.*,
         year::VARCHAR || '-q' || qtr::VARCHAR AS time_period,
         substr(naics_code, 1, 4) AS naics_4digit
  FROM facts f
), labeled AS (
  SELECT e.*, '(N' || e.naics_4digit || ') ' || n.n_name AS naics_desc_label
  FROM enriched e
  LEFT JOIN nation n ON e.naics_4digit = CAST(1000 + n.n_nationkey AS VARCHAR)
  WHERE e.naics_4digit <> '0'
    AND e.naics_4digit NOT IN
        (SELECT CAST(1000 + r_regionkey AS VARCHAR) FROM region)
)
SELECT time_period, round(sum(total_wages), 2) AS nominas
FROM labeled
WHERE total_wages IS NOT NULL AND trim(total_wages::VARCHAR) <> ''
  AND naics_desc_label = '(N1009) NATION_9'
GROUP BY time_period ORDER BY time_period
"""


def q_wages_label_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted distinct label domain (A4/O3) — the DataFrame form of
    operators.wages.label_domain (whose collect() is the documented UI
    boundary; the driver hashes the frame instead)."""
    return (
        _enriched(spark, sf_dir)
        .select("naics_desc_label")
        .filter(F.col("naics_desc_label").isNotNull())
        .distinct()
        .transform(order_result, "naics_desc_label")
    )


ORACLE_WAGES_LABEL_DOMAIN = """
WITH codes AS (
  SELECT DISTINCT substr(CAST(1000 + c_nationkey AS VARCHAR) || '00', 1, 4)
         AS naics_4digit
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT '(N' || c.naics_4digit || ') ' || n.n_name AS naics_desc_label
FROM codes c
JOIN nation n ON c.naics_4digit = CAST(1000 + n.n_nationkey AS VARCHAR)
WHERE c.naics_4digit <> '0'
  AND c.naics_4digit NOT IN
      (SELECT CAST(1000 + r_regionkey AS VARCHAR) FROM region)
ORDER BY naics_desc_label
"""


def _quarterly_employment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.select(
        F.year("o_orderdate").alias("year"),
        F.quarter("o_orderdate").alias("qtr"),
        (((F.month("o_orderdate") - 1) % 3) + 1).alias("slot"),
    )
    return m.groupBy("year", "qtr").agg(
        F.count(F.when(F.col("slot") == 1, 1)).alias("first_month_employment"),
        F.count(F.when(F.col("slot") == 2, 1)).alias("second_month_employment"),
        F.count(F.when(F.col("slot") == 3, 1)).alias("third_month_employment"),
    )


def q_ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarterly wide → monthly unpivot with assembled dates (F9 make_date,
    F10 month-from-qtr, §2.J unpivot) → quarterly mean resample (A5), dated
    at quarter-end month — operators.timeseries composed end-to-end."""
    monthly = T.to_monthly(_quarterly_employment(spark, sf_dir))
    out = T.resample_quarterly(monthly)
    return out.select(
        "year",
        "qtr",
        F.round("employment", 4).alias("employment"),
        "date",
    ).orderBy("year", "qtr")


ORACLE_TS_RESAMPLE = """
WITH m AS (
  SELECT year(o_orderdate) AS year, quarter(o_orderdate) AS qtr,
         ((month(o_orderdate) - 1) % 3) + 1 AS slot
  FROM orders
), q AS (
  SELECT year, qtr,
         count(*) FILTER (slot = 1) AS e1,
         count(*) FILTER (slot = 2) AS e2,
         count(*) FILTER (slot = 3) AS e3
  FROM m GROUP BY year, qtr
), monthly AS (
  SELECT year, qtr, (qtr - 1) * 3 + 1 AS month, e1 AS employment FROM q
  UNION ALL SELECT year, qtr, (qtr - 1) * 3 + 2, e2 FROM q
  UNION ALL SELECT year, qtr, (qtr - 1) * 3 + 3, e3 FROM q
)
SELECT year, qtr, round(avg(employment), 4) AS employment,
       make_date(year, qtr * 3, 1) AS date
FROM monthly GROUP BY year, qtr ORDER BY year, qtr
"""


def q_ts_resample_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly → yearly mean resample (A6), dated Jan 1 (F9)."""
    monthly = T.to_monthly(_quarterly_employment(spark, sf_dir))
    out = T.resample_yearly(monthly)
    return out.select(
        "year", F.round("employment", 4).alias("employment"), "date"
    ).orderBy("year")


ORACLE_TS_RESAMPLE_YEARLY = """
WITH m AS (
  SELECT year(o_orderdate) AS year, quarter(o_orderdate) AS qtr,
         ((month(o_orderdate) - 1) % 3) + 1 AS slot
  FROM orders
), q AS (
  SELECT year, qtr,
         count(*) FILTER (slot = 1) AS e1,
         count(*) FILTER (slot = 2) AS e2,
         count(*) FILTER (slot = 3) AS e3
  FROM m GROUP BY year, qtr
), monthly AS (
  SELECT year, qtr, e1 AS employment FROM q
  UNION ALL SELECT year, qtr, e2 FROM q
  UNION ALL SELECT year, qtr, e3 FROM q
)
SELECT year, round(avg(employment), 4) AS employment,
       make_date(year, 1, 1) AS date
FROM monthly GROUP BY year ORDER BY year
"""


QUERIES = {
    "wages_series": q_wages_series,
    "wages_label_domain": q_wages_label_domain,
    "ts_resample": q_ts_resample,
    "ts_resample_yearly": q_ts_resample_yearly,
}

ORACLE = {
    "wages_series": ORACLE_WAGES_SERIES,
    "wages_label_domain": ORACLE_WAGES_LABEL_DOMAIN,
    "ts_resample": ORACLE_TS_RESAMPLE,
    "ts_resample_yearly": ORACLE_TS_RESAMPLE_YEARLY,
}


# --------------------------------------------------------------------------
# ts_gapfill — calendar spine + forward fill
# --------------------------------------------------------------------------


def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + forward-fill: hourly per-type event series densified onto a
    complete calendar spine, missing hours carrying the last observed value
    — the resample/ffill pair every monitoring and econometrics pipeline
    needs (the reference's pandas-era ancestor is DataFrame.resample().ffill()).

    Plan shape: the spine is GENERATED per series from its own [min, max]
    span (F.sequence + explode — a few thousand rows per series, never a
    scan), the spine⋈observations join is keyed on (series, hour), and the
    fill is one window per series: ``last(value, ignorenulls=True)`` over
    rows unbounded-preceding. Scale: partitioned by series key — a million
    independent series fill in parallel; only a single series' calendar ever
    sits in one task.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(F.round(F.sum("value"), 2).alias("v"), F.count("*").alias("n"))
    )
    cal = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cal.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            F.col("n").isNull().cast("long").alias("is_gap"),
            F.round(F.last("v", ignorenulls=True).over(w), 2).alias(
                "v_filled"
            ),
        )
        .transform(order_result, "event_type", "h")
    )


ORACLE_TS_GAPFILL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         round(sum(value), 2) AS v, count(*) AS n
  FROM events GROUP BY 1, 2
), cal AS (
  SELECT event_type,
         unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
  FROM hourly GROUP BY event_type
), j AS (
  SELECT c.event_type, c.h, o.n, o.v
  FROM cal c LEFT JOIN hourly o
    ON c.event_type = o.event_type AND c.h = o.h
)
SELECT event_type, h,
       CAST(n IS NULL AS BIGINT) AS is_gap,
       round(last_value(v IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS v_filled
FROM j ORDER BY event_type, h
"""

QUERIES["ts_gapfill"] = q_ts_gapfill
ORACLE["ts_gapfill"] = ORACLE_TS_GAPFILL
