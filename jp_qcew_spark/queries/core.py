"""Core relational queries — scans, casts, filters, projections, labels.

Each query mirrors an operator row from SURVEY.md §2 (reference file:line cited
per function) re-expressed on the driver's oracle tables (FIXTURES.md §F).

Alias discipline: every computed column is aliased identically in the Spark
plan and the DuckDB oracle; computed integers are cast to long (BIGINT),
float aggregates are rounded to 2 decimals on both sides so the driver's
order-insensitive value-hash is engine-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.io import load_table, order_result


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship aggregate (TPC-H Q1 shape): groupBy + multi-agg + sort.

    Exercises SURVEY §2 A1 (hash group-by, multi-agg; reference
    data_process.py:173-177), P2 (derived row arithmetic), O2 (multi-key sort).
    Scale: single shuffle on the two grouping keys; partial aggregation
    (map-side combine) happens automatically; no join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 2).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .transform(order_result, "l_returnflag", "l_linestatus")
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 2)                                        AS avg_qty,
       round(avg(l_extendedprice), 2)                                   AS avg_price,
       round(avg(l_discount), 2)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_cast_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-on-failure casts (SURVEY §2 P1; reference data_process.py:66-82).

    The reference casts 9 raw string fields with ``strict=False`` (failure →
    null). Spark's non-ANSI cast has identical semantics; the oracle uses
    TRY_CAST. ``o_orderstatus`` ('O'/'F'/'P') never parses → null;
    the leading digit of ``o_orderpriority`` always parses.

    Plain ``.cast()`` — NOT ``try_cast`` — on purpose: ``load_table`` has
    already pinned ANSI off (``ensure_session_confs``), where the two are
    semantically identical, but ``try_cast`` evaluates as
    TryEval(ansi-Cast) and every unparseable row THROWS-and-catches a JVM
    exception. Measured at sf0.1 (150k all-failing status rows): 1.4 s
    per fresh plan with try_cast vs 0.2 s with plain cast — exception
    construction dominates until JIT fast-throw warms per generated
    class, and each new plan instance pays the warmup again. At 100 TB an
    exception per malformed row is a scale-killer; null-on-failure
    non-ANSI cast is exception-free (the r4→r5 tail-drift root cause,
    BASELINE.md round-5 notes).
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_orderkey"),
            F.col("o_orderstatus").cast("long").alias("status_as_num"),
            F.substring("o_orderpriority", 1, 1).cast("long").alias("priority_num"),
        )
        .groupBy("priority_num")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("status_as_num").alias("n_parsed_status"),
        )
        .transform(order_result, "priority_num")
    )


ORACLE_CAST_NULLSAFE = """
WITH c AS (
  SELECT o_orderkey,
         TRY_CAST(o_orderstatus AS BIGINT)            AS status_as_num,
         TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS priority_num
  FROM orders
)
SELECT priority_num, count(*) AS n_rows, count(status_as_num) AS n_parsed_status
FROM c GROUP BY priority_num ORDER BY priority_num
"""


def q_fixedwidth_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional substring decode (SURVEY §2 S2/F1-F2; reference
    data_process.py:119-133 slices 121 fields by 1-based position/length).

    Re-expressed on ``documents.text``: slice two fixed windows, trim, measure.
    A single narrow projection — Catalyst prunes the scan to one column.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id"),
        F.trim(F.substring("text", 1, 12)).alias("head_field"),
        F.trim(F.substring("text", 20, 6)).alias("mid_field"),
        F.length("text").cast("long").alias("text_len"),
    ).transform(order_result, "doc_id")


ORACLE_FIXEDWIDTH_SLICE = """
SELECT doc_id,
       trim(substr(text, 1, 12))  AS head_field,
       trim(substr(text, 20, 6))  AS mid_field,
       CAST(length(text) AS BIGINT) AS text_len
FROM documents ORDER BY doc_id
"""


def q_filter_nonblank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Not-null AND not-blank filter (SURVEY §2 P8; reference
    data_process.py:256-259) + string-inequality filter (P5, :170).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(
            F.col("text").isNotNull()
            & (F.trim(F.col("text")) != "")
            & (F.col("lang") != "")
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .transform(order_result, "lang")
    )


ORACLE_FILTER_NONBLANK = """
SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
FROM documents
WHERE text IS NOT NULL AND trim(text) <> '' AND lang <> ''
GROUP BY lang ORDER BY lang
"""


def q_suppressed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NAICS-aggregate shape (SURVEY §3.2; reference data_process.py:149-186):
    derive → filter → groupBy multi-agg → HAVING-suppression → contribution cols.

    Analog mapping: (year, qtr) from l_shipdate, "industry code" from
    returnflag+linestatus, employment ~ mean of a 3-term row expression,
    wages ~ sum of extendedprice, disclosure suppression count>4 (P6,
    data_process.py:179), contribution columns ×0.014/0.0145/0.062 (P4,
    :182-186). One shuffle on the grouping keys; everything else fuses
    into the scan stage under whole-stage codegen.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.year("l_shipdate").cast("long").alias("year"),
        F.quarter("l_shipdate").cast("long").alias("qtr"),
        F.concat(F.col("l_returnflag"), F.col("l_linestatus")).alias("code"),
        (
            (F.col("l_quantity") + F.col("l_extendedprice") + F.col("l_tax")) / 3.0
        ).alias("employment"),
        F.col("l_extendedprice").alias("wages"),
    ).filter(F.col("code") != "")
    agg = (
        base.groupBy("year", "qtr", "code")
        .agg(
            F.round(F.sum("wages"), 2).alias("total_wages"),
            F.round(F.avg("employment"), 2).alias("total_employment"),
            F.count("*").alias("dummy"),
        )
        .filter(F.col("dummy") > 4)
    )
    return agg.select(
        "*",
        F.round(F.col("total_wages") * 0.014, 2).alias("fondo_contributions"),
        F.round(F.col("total_wages") * 0.0145, 2).alias("medicare_contributions"),
        F.round(F.col("total_wages") * 0.062, 2).alias("ssn_contributions"),
    ).transform(order_result, "year", "qtr", "code")


ORACLE_SUPPRESSED_AGG = """
WITH base AS (
  SELECT CAST(year(l_shipdate) AS BIGINT)    AS year,
         CAST(quarter(l_shipdate) AS BIGINT) AS qtr,
         l_returnflag || l_linestatus        AS code,
         (l_quantity + l_extendedprice + l_tax) / 3.0 AS employment,
         l_extendedprice                     AS wages
  FROM lineitem
), agg AS (
  SELECT year, qtr, code,
         round(sum(wages), 2)      AS total_wages,
         round(avg(employment), 2) AS total_employment,
         count(*)                  AS dummy
  FROM base WHERE code <> ''
  GROUP BY year, qtr, code
  HAVING count(*) > 4
)
SELECT year, qtr, code, total_wages, total_employment, dummy,
       round(total_wages * 0.014, 2)  AS fondo_contributions,
       round(total_wages * 0.0145, 2) AS medicare_contributions,
       round(total_wages * 0.062, 2)  AS ssn_contributions
FROM agg ORDER BY year, qtr, code
"""


def q_mode_keying(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) per group (SURVEY §2 A3; reference
    data_process.py:83-84 keys each output file by mode(year), mode(qtr)).

    Deterministic tie-break (smallest value among the modal set) via
    count-then-rank, as recommended in SURVEY §7.3 — Spark's ``F.mode`` has
    arbitrary ties, so the engine standardizes on this form.
    """
    o = load_table(spark, sf_dir, "orders")
    counted = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("cnt").alias("modal_count"),
        )
        .transform(order_result, "o_orderstatus")
    )


ORACLE_MODE_KEYING = """
WITH counted AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
  FROM orders GROUP BY o_orderstatus, o_orderpriority
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderstatus ORDER BY cnt DESC, o_orderpriority ASC) AS rn
  FROM counted
)
SELECT o_orderstatus, o_orderpriority AS modal_priority, cnt AS modal_count
FROM ranked WHERE rn = 1 ORDER BY o_orderstatus
"""


def q_distinct_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted distinct dimension domain (SURVEY §2 A4/O3; reference
    data_process.py:266-272 builds the UI dropdown domain).
    """
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_mktsegment").distinct().transform(order_result, "c_mktsegment")


ORACLE_DISTINCT_DOMAIN = """
SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment
"""


def q_label_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chart-ready label concat (SURVEY §2 P12/F3; reference
    data_process.py:246-255 builds ``"(N" + naics4 + ") " + desc``).

    Null semantics pinned per SURVEY §2 F3: ``F.concat`` (like Polars
    ``concat_str`` and SQL ``||``) yields NULL if any input is NULL — the
    nullable branch proves it (NULLIF turns one segment NULL).
    """
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            F.col("n_nationkey").cast("long").alias("nation_key"),
            F.concat(F.lit("("), F.col("n_name"), F.lit(") "), F.col("r_name")).alias(
                "label"
            ),
            F.concat(
                F.lit("("),
                F.col("n_name"),
                F.lit(") "),
                F.nullif(F.col("r_name"), F.lit("ASIA")),
            ).alias("label_nullable"),
        )
        .transform(order_result, "nation_key")
    )


ORACLE_LABEL_SYNTHESIS = """
SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
       '(' || n_name || ') ' || r_name AS label,
       '(' || n_name || ') ' || NULLIF(r_name, 'ASIA') AS label_nullable
FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
ORDER BY nation_key
"""


def q_tick_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axis tick sampling (SURVEY §2 P13; reference graph.py:119-124 keeps
    every 3rd quarterly label with ``x_values[::3]``): distinct ordered
    period labels → row_number → keep rank ≡ 1 (mod 3). Kept in-engine so
    the collect boundary ships only the sampled ticks."""
    li = load_table(spark, sf_dir, "lineitem")
    periods = (
        li.select(
            F.concat(
                F.year("l_shipdate").cast("string"),
                F.lit("-Q"),
                F.quarter("l_shipdate").cast("string"),
            ).alias("period")
        )
        .distinct()
    )
    # Scale guard: the global (partitionBy-less) window is safe ONLY because
    # its input is the post-distinct period domain — bounded by #quarters in
    # the data (~30 rows at any corpus size), not by row count. The heavy
    # distinct runs distributed; the single-task sort sees dozens of rows.
    w = Window.orderBy("period")
    return (
        periods.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter((F.col("rn") % 3) == 1)
        .select("period", "rn")
        .orderBy("rn")
    )


ORACLE_TICK_SAMPLE = """
WITH p AS (
  SELECT DISTINCT CAST(year(l_shipdate) AS VARCHAR) || '-Q'
         || CAST(quarter(l_shipdate) AS VARCHAR) AS period
  FROM lineitem
), r AS (
  SELECT period, row_number() OVER (ORDER BY period) AS rn FROM p
)
SELECT period, rn FROM r WHERE rn % 3 = 1 ORDER BY rn
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "tick_sample": q_tick_sample,
    "cast_nullsafe": q_cast_nullsafe,
    "fixedwidth_slice": q_fixedwidth_slice,
    "filter_nonblank": q_filter_nonblank,
    "suppressed_agg": q_suppressed_agg,
    "mode_keying": q_mode_keying,
    "distinct_domain": q_distinct_domain,
    "label_synthesis": q_label_synthesis,
}

ORACLE = {
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "tick_sample": ORACLE_TICK_SAMPLE,
    "cast_nullsafe": ORACLE_CAST_NULLSAFE,
    "fixedwidth_slice": ORACLE_FIXEDWIDTH_SLICE,
    "filter_nonblank": ORACLE_FILTER_NONBLANK,
    "suppressed_agg": ORACLE_SUPPRESSED_AGG,
    "mode_keying": ORACLE_MODE_KEYING,
    "distinct_domain": ORACLE_DISTINCT_DOMAIN,
    "label_synthesis": ORACLE_LABEL_SYNTHESIS,
}
