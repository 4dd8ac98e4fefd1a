"""Set operations and multi-source unions (SURVEY.md §2.G).

U1 (glob-scan union-all) is exercised implicitly by every parquet read; here
the engine's explicit set-op surface: union/distinct, intersect, except —
"free" in Spark but part of the coverage checklist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jp_qcew_spark.io import load_table, order_result


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations present on either side (customers ∪ suppliers), deduplicated."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").cast("long").alias("nation_key"))
        .union(s.select(F.col("s_nationkey").cast("long")))
        .distinct()
        .transform(order_result, "nation_key")
    )


ORACLE_UNION_DISTINCT = """
SELECT CAST(c_nationkey AS BIGINT) AS nation_key FROM customer
UNION
SELECT CAST(s_nationkey AS BIGINT) FROM supplier
ORDER BY nation_key
"""


def q_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with BOTH customers and suppliers (INTERSECT)."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").cast("long").alias("nation_key"))
        .intersect(s.select(F.col("s_nationkey").cast("long")))
        .transform(order_result, "nation_key")
    )


ORACLE_INTERSECT_KEYS = """
SELECT CAST(c_nationkey AS BIGINT) AS nation_key FROM customer
INTERSECT
SELECT CAST(s_nationkey AS BIGINT) FROM supplier
ORDER BY nation_key
"""


def q_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with customers but NO suppliers (EXCEPT)."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").cast("long").alias("nation_key"))
        .exceptAll(s.select(F.col("s_nationkey").cast("long")))
        .distinct()
        .transform(order_result, "nation_key")
    )


ORACLE_EXCEPT_KEYS = """
SELECT DISTINCT nation_key FROM (
  SELECT CAST(c_nationkey AS BIGINT) AS nation_key FROM customer
  EXCEPT ALL
  SELECT CAST(s_nationkey AS BIGINT) FROM supplier
) ORDER BY nation_key
"""


QUERIES = {
    "union_distinct": q_union_distinct,
    "intersect_keys": q_intersect_keys,
    "except_keys": q_except_keys,
}

ORACLE = {
    "union_distinct": ORACLE_UNION_DISTINCT,
    "intersect_keys": ORACLE_INTERSECT_KEYS,
    "except_keys": ORACLE_EXCEPT_KEYS,
}
