"""Scalar-function surface — math, regex, date, array, map (SURVEY.md §2.H:
the reference uses none of these; they're the engine's free built-in
extension tier, exercised here so the oracle pins their exact semantics).

All expressions are whole-stage-codegen built-ins; each query is a single
narrow scan + projection (+ one bounded agg) — nothing here shuffles more
than its final group-by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jp_qcew_spark.io import load_table, order_result

# Presentation sorts pin NULLS LAST explicitly: Spark's ASC default is
# NULLS FIRST while DuckDB's is NULLS LAST, so any nullable sort key
# would silently reorder the driver's hash-compared output the first
# time a NULL appears (the local harness re-sorts rows and can't see it).


def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt/ln/pow/abs/ceil/floor over part prices (null-safe: ln guarded)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    price = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        # sqrt guarded symmetrically: DuckDB sqrt(negative) hard-errors
        # while ANSI-off Spark yields NaN — pin both to NULL
        F.round(F.sqrt(F.when(price >= 0, price)), 6).alias("sqrt_price"),
        F.round(
            F.when(price > 0, F.log(price)).otherwise(F.lit(None)), 6
        ).alias("ln_price"),
        F.round(F.pow(price, F.lit(0.25)), 6).alias("price_4throot"),
        F.ceil(price).cast("long").alias("ceil_price"),
        F.floor(price).cast("long").alias("floor_price"),
        F.abs(price - 1000.0).alias("abs_dev_1000"),
    ).transform(order_result, "p_partkey")


ORACLE_MATH = """
SELECT p_partkey,
       round(sqrt(CASE WHEN p_retailprice >= 0 THEN p_retailprice END), 6)
         AS sqrt_price,
       round(CASE WHEN p_retailprice > 0 THEN ln(p_retailprice) END, 6) AS ln_price,
       round(pow(p_retailprice, 0.25), 6) AS price_4throot,
       CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
       CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
       abs(p_retailprice - 1000.0) AS abs_dev_1000
FROM part WHERE p_partkey < 500 ORDER BY p_partkey
"""


def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_replace / rlike over part names: first word,
    vowels stripped, contains-digit flag — counted per brand."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_brand",
            F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
            F.regexp_replace("p_name", r"[aeiou]", "").alias("devoweled"),
            F.col("p_name").rlike(r"\d").cast("long").alias("has_digit"),
        )
        .groupBy("p_brand")
        .agg(
            F.countDistinct("first_word").alias("n_first_words"),
            F.sum("has_digit").alias("n_with_digit"),
            F.max(F.length("devoweled")).alias("max_devoweled_len"),
        )
        .transform(order_result, F.col("p_brand").asc_nulls_last())
    )


ORACLE_REGEX = r"""
WITH x AS (
  SELECT p_brand,
         regexp_extract(p_name, '^(\w+)', 1) AS first_word,
         regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
         CASE WHEN regexp_matches(p_name, '\d') THEN 1 ELSE 0 END AS has_digit
  FROM part
)
SELECT p_brand,
       count(DISTINCT first_word) AS n_first_words,
       CAST(sum(has_digit) AS BIGINT) AS n_with_digit,
       max(length(devoweled)) AS max_devoweled_len
FROM x GROUP BY p_brand ORDER BY p_brand
"""


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc/datediff/last_day/dayofweek over order dates, monthly
    rollup. DuckDB's date_trunc returns DATE; Spark's returns TIMESTAMP —
    to_date aligns them (the documented cross-engine quirk)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("order_month"),
            F.datediff(F.last_day("o_orderdate"), F.to_date("o_orderdate")).alias(
                "days_to_month_end"
            ),
            F.dayofweek("o_orderdate").cast("long").alias("dow"),
        )
        .groupBy("order_month")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg("days_to_month_end"), 4).alias("avg_days_to_eom"),
            F.countDistinct("dow").alias("n_dows"),
        )
        .transform(order_result, F.col("order_month").asc_nulls_last())
    )


ORACLE_DATE = """
WITH x AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
         datediff('day', CAST(o_orderdate AS DATE),
                  last_day(CAST(o_orderdate AS DATE))) AS days_to_month_end,
         dayofweek(o_orderdate) + 1 AS dow  -- DuckDB: 0=Sunday; Spark: 1=Sunday
  FROM orders
)
SELECT order_month, count(*) AS n_orders,
       round(avg(days_to_month_end), 4) AS avg_days_to_eom,
       count(DISTINCT dow) AS n_dows
FROM x GROUP BY order_month ORDER BY order_month
"""


def q_array_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over embeddings: size/min/max/slice/filter/
    aggregate, per-label rollup. (Map-type data-plane semantics are pinned
    separately by ``events_props_map``/``events_json_props``.)

    head8_sum pins DuckDB ``list_sum`` semantics exactly on both engines
    via an explicit not-null filter + empty->NULL guard: a bare
    ``aggregate(slice, 0.0, +)`` returns 0.0 for an EMPTY array (DuckDB:
    NULL) and NULL when any ELEMENT is null (DuckDB: skipped) — two
    divergences current fixed-dim fixtures never exercise."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    vd = F.transform(v, lambda x: x.cast("double"))
    head = F.filter(F.slice(vd, 1, 8), lambda x: x.isNotNull())
    head_sum = F.when(F.size(head) <= 0, F.lit(None)).otherwise(
        F.aggregate(head, F.lit(0.0), lambda acc, x: acc + x)
    )
    return (
        e.select(
            "label",
            F.size(v).cast("long").alias("dim"),
            F.round(F.array_min(vd), 6).alias("vmin"),
            F.round(F.array_max(vd), 6).alias("vmax"),
            F.round(head_sum, 6).alias("head8_sum"),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.max("dim").alias("dim"),
            F.round(F.min("vmin"), 6).alias("min_component"),
            F.round(F.max("vmax"), 6).alias("max_component"),
            F.round(F.avg("head8_sum"), 6).alias("avg_head8_sum"),
        )
        .transform(order_result, F.col("label").asc_nulls_last())
    )


ORACLE_ARRAY_MAP = """
WITH x AS (
  SELECT label,
         CAST(len(embedding) AS BIGINT) AS dim,
         round(list_min(embedding::DOUBLE[]), 6) AS vmin,
         round(list_max(embedding::DOUBLE[]), 6) AS vmax,
         round(CASE WHEN len(list_filter((embedding::DOUBLE[])[1:8],
                                         y -> y IS NOT NULL)) = 0 THEN NULL
               ELSE list_sum(list_filter((embedding::DOUBLE[])[1:8],
                                         y -> y IS NOT NULL)) END, 6)
           AS head8_sum
  FROM embeddings
)
SELECT label, count(*) AS n_vecs, max(dim) AS dim,
       round(min(vmin), 6) AS min_component,
       round(max(vmax), 6) AS max_component,
       round(avg(head8_sum), 6) AS avg_head8_sum
FROM x GROUP BY label ORDER BY label
"""


QUERIES = {
    "math_funcs": q_math_funcs,
    "regex_extract": q_regex_extract,
    "date_funcs": q_date_funcs,
    "array_map_funcs": q_array_map_funcs,
}

ORACLE = {
    "math_funcs": ORACLE_MATH,
    "regex_extract": ORACLE_REGEX,
    "date_funcs": ORACLE_DATE,
    "array_map_funcs": ORACLE_ARRAY_MAP,
}


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface: lpad/rpad, translate, split_part, reverse, repeat and
    Levenshtein edit distance (the classic fuzzy-match primitive) between
    customer and supplier names joined on nationkey — all codegen built-ins."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    s = load_table(spark, sf_dir, "supplier").select(
        "s_nationkey", "s_name"
    )
    return (
        # broadcast the BOUNDED side: c is filtered to < 100 keys by
        # construction while supplier grows with the corpus — the old
        # hint sat on the unbounded side (late-r11 review)
        F.broadcast(c).join(s, F.col("c_nationkey") == F.col("s_nationkey"))
        .select(
            "c_custkey",
            "s_name",
            F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
            F.translate("c_name", "#", "-").alias("name_dashed"),
            F.split_part(F.col("c_name"), F.lit("#"), F.lit(-1)).alias("name_tail"),
            F.reverse("c_mktsegment").alias("seg_rev"),
            F.levenshtein("c_name", "s_name").cast("long").alias("edit_dist"),
        )
        .groupBy("c_custkey", "padded_key", "name_dashed", "name_tail", "seg_rev")
        .agg(
            F.min("edit_dist").alias("nearest_supplier_dist"),
            F.count("*").alias("n_suppliers"),
        )
        .transform(order_result, "c_custkey")
    )


ORACLE_STRING_FUNCS = """
SELECT c_custkey,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
       translate(c_name, '#', '-') AS name_dashed,
       split_part(c_name, '#', -1) AS name_tail,
       reverse(c_mktsegment) AS seg_rev,
       min(levenshtein(c_name, s_name)) AS nearest_supplier_dist,
       count(*) AS n_suppliers
FROM customer JOIN supplier ON c_nationkey = s_nationkey
WHERE c_custkey < 100
GROUP BY 1, 2, 3, 4, 5
ORDER BY c_custkey
"""


def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling semantics pinned cross-engine: NULLIF-created nulls
    through COALESCE, GREATEST/LEAST (null-skipping in BOTH engines),
    null-propagating concat, and count vs count(col)."""
    o = load_table(spark, sf_dir, "orders")
    nulled = o.select(
        "o_orderkey",
        F.nullif("o_orderpriority", F.lit("3-MEDIUM")).alias("prio_n"),
        F.col("o_totalprice"),
    )
    return (
        nulled.select(
            F.coalesce("prio_n", F.lit("(suppressed)")).alias("prio"),
            F.greatest(
                F.col("o_totalprice"), F.lit(None).cast("double")
            ).alias("g"),
            F.least(F.col("o_totalprice"), F.lit(None).cast("double")).alias("l"),
            F.concat(F.lit("p:"), F.col("prio_n")).alias("concat_null"),
        )
        .groupBy("prio")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("concat_null").alias("n_nonnull_concat"),
            F.round(F.sum("g"), 2).alias("sum_greatest"),
            F.round(F.sum("l"), 2).alias("sum_least"),
        )
        .transform(order_result, F.col("prio").asc_nulls_last())
    )


ORACLE_NULL_SEMANTICS = """
WITH nulled AS (
  SELECT o_orderkey,
         nullif(o_orderpriority, '3-MEDIUM') AS prio_n,
         o_totalprice
  FROM orders
)
SELECT coalesce(prio_n, '(suppressed)') AS prio,
       count(*) AS n_rows,
       count('p:' || prio_n) AS n_nonnull_concat,
       round(sum(greatest(o_totalprice, NULL)), 2) AS sum_greatest,
       round(sum(least(o_totalprice, NULL)), 2) AS sum_least
FROM nulled GROUP BY prio ORDER BY prio
"""

QUERIES["string_funcs"] = q_string_funcs
QUERIES["null_semantics"] = q_null_semantics
ORACLE["string_funcs"] = ORACLE_STRING_FUNCS
ORACLE["null_semantics"] = ORACLE_NULL_SEMANTICS


# --------------------------------------------------------------------------
# regr_stats — correlation / covariance / least-squares aggregates
# --------------------------------------------------------------------------


def q_regr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per returnflag: corr, covar_samp/pop, and the
    SQL:2023 linear-regression aggregates (slope, intercept, r²) of
    extendedprice against quantity — the one-pass distributed moments path
    (each is a sum/sum-of-products combine, map-side partial agg, no second
    scan).  All built-in JVM aggregates; round(6) pins the float surface on
    both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = "l_extendedprice", "l_quantity"
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.corr(y, x), 6).alias("corr_py"),
            # magnitude-aware rounding: covariance-scale stats (~1e5 on
            # this data) carry ~1e-10 cross-engine noise from different
            # partial-agg merge orders; a 2-decimal grid makes a boundary
            # flip ~100x less likely than the 4-decimal pin the
            # dimensionless stats (corr/slope/r2, ~1e0, round 6) can afford
            F.round(F.covar_samp(y, x), 2).alias("covar_s"),
            F.round(F.covar_pop(y, x), 2).alias("covar_p"),
            F.round(F.expr(f"regr_slope({y}, {x})"), 6).alias("slope"),
            F.round(F.expr(f"regr_intercept({y}, {x})"), 2).alias("icept"),
            F.round(F.expr(f"regr_r2({y}, {x})"), 6).alias("r2"),
            F.round(F.stddev_samp(x), 6).alias("sd_qty"),
        )
        .transform(order_result, F.col("l_returnflag").asc_nulls_last())
    )


ORACLE_REGR_STATS = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(corr(l_extendedprice, l_quantity), 6) AS corr_py,
       round(covar_samp(l_extendedprice, l_quantity), 2) AS covar_s,
       round(covar_pop(l_extendedprice, l_quantity), 2) AS covar_p,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 2) AS icept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       round(stddev_samp(l_quantity), 6) AS sd_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

QUERIES["regr_stats"] = q_regr_stats
ORACLE["regr_stats"] = ORACLE_REGR_STATS


# --------------------------------------------------------------------------
# histogram_bins — equal-width histogram with data-driven bounds
# --------------------------------------------------------------------------

_N_BINS = 10


def q_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width 10-bin histogram of l_extendedprice with bounds computed
    from the data itself: pass 1 aggregates global min/max to one row,
    broadcast-cross-joined back so binning is a pure map-side expression in
    pass 2 (the scalar-subquery pattern).  The bin formula
    ``least(10, floor(((x-lo)/(hi-lo))*10)+1)`` is written with identical
    IEEE-double operation order on both engines, so bucket edges agree
    bit-for-bit — no reliance on either engine's width_bucket edge
    semantics (DuckDB has none)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    stats = li.agg(F.min(x).alias("lo"), F.max(x).alias("hi"))
    bucket = F.least(
        F.lit(_N_BINS).cast("long"),
        F.floor(((x - F.col("lo")) / (F.col("hi") - F.col("lo"))) * _N_BINS)
        + 1,
    )
    return (
        li.crossJoin(F.broadcast(stats))
        .select(bucket.alias("bucket"), x.alias("x"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min("x"), 2).alias("bin_min"),
            F.round(F.max("x"), 2).alias("bin_max"),
        )
        .transform(order_result, F.col("bucket").asc_nulls_last())
    )


ORACLE_HISTOGRAM_BINS = f"""
WITH s AS (
  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
  FROM lineitem
)
SELECT least({_N_BINS},
             CAST(floor(((l_extendedprice - lo) / (hi - lo)) * {_N_BINS})
                  AS BIGINT) + 1) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(min(l_extendedprice), 2) AS bin_min,
       round(max(l_extendedprice), 2) AS bin_max
FROM lineitem, s
GROUP BY bucket
ORDER BY bucket
"""


# --------------------------------------------------------------------------
# argmax_funcs — max_by / min_by with pinned tie semantics
# --------------------------------------------------------------------------


def q_argmax_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Richest / poorest supplier name per nation via max_by/min_by.  Both
    engines leave arg-extremes nondeterministic on ties, so the ordering
    value is made unique by construction: acctbal + suppkey·1e-9 — the
    perturbation (≤1e-2 only beyond suppkey 10M) never reorders distinct
    acctbals (0.01 granularity) but totally orders ties.  One map-side
    partial agg per nation; no window, no shuffle beyond the 25-row final
    group-by."""
    s = load_table(spark, sf_dir, "supplier")
    v = F.col("s_acctbal") + F.col("s_suppkey").cast("double") / F.lit(1.0e9)
    return (
        s.groupBy("s_nationkey")
        .agg(
            F.max_by("s_name", v).alias("richest"),
            F.min_by("s_name", v).alias("poorest"),
            F.round(F.max("s_acctbal"), 2).alias("max_bal"),
            F.round(F.min("s_acctbal"), 2).alias("min_bal"),
            F.count("*").cast("long").alias("n_suppliers"),
        )
        .transform(order_result, F.col("s_nationkey").asc_nulls_last())
    )


ORACLE_ARGMAX_FUNCS = """
SELECT s_nationkey,
       arg_max(s_name, s_acctbal + CAST(s_suppkey AS DOUBLE) / 1e9)
         AS richest,
       arg_min(s_name, s_acctbal + CAST(s_suppkey AS DOUBLE) / 1e9)
         AS poorest,
       round(max(s_acctbal), 2) AS max_bal,
       round(min(s_acctbal), 2) AS min_bal,
       CAST(count(*) AS BIGINT) AS n_suppliers
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""

QUERIES["histogram_bins"] = q_histogram_bins
ORACLE["histogram_bins"] = ORACLE_HISTOGRAM_BINS
QUERIES["argmax_funcs"] = q_argmax_funcs
ORACLE["argmax_funcs"] = ORACLE_ARGMAX_FUNCS
