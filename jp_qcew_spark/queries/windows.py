"""Window functions, top-k, pivot/unpivot, rollup.

Covers SURVEY.md §2.E (the lag/first-difference/%-change semantics the
reference expects precomputed in its CSVs — graph.py:88-103 — here computed
natively), §2.F (sorts/top-k), and §2.D "not present" rows (rollup, pivot)
promoted to engine surface.

Determinism discipline: every window order includes a unique tie-break key;
float outputs rounded on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.io import load_table, order_result


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by value per market segment, partial-then-final top-k
    (SURVEY §2.F).

    With only ~5 segments, a single window over c_mktsegment serializes the
    whole fact table into 5 sort tasks at scale. Two-phase plan instead:
    stage 1 ranks within (segment, input-partition-id) — every core
    participates, each sorting only its own slice; stage 2 re-ranks the
    ≤ 3·n_partitions survivors per segment, a window over a tiny input.
    Result is identical to the single-window form: every global top-3 row is
    necessarily inside its partition's top-3 for that segment (VERDICT r1
    #5)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    order_cols = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    # no forced broadcast on customer (corpus-scaled; late-r11 review) —
    # size-based planning broadcasts it at runtime when genuinely small
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment",
        "o_orderkey",
        "o_totalprice",
        F.spark_partition_id().alias("pid"),
    )
    w_partial = Window.partitionBy("c_mktsegment", "pid").orderBy(*order_cols)
    survivors = (
        joined.withColumn("prk", F.row_number().over(w_partial))
        .filter(F.col("prk") <= 3)
        .drop("prk", "pid")
    )
    w_final = Window.partitionBy("c_mktsegment").orderBy(*order_cols)
    return (
        survivors.withColumn("rk", F.row_number().over(w_final))
        .filter(F.col("rk") <= 3)
        .select(
            "c_mktsegment",
            F.col("rk").cast("long").alias("rk"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
        .transform(order_result, "c_mktsegment", "rk")
    )


ORACLE_TOPK_PER_GROUP = """
WITH ranked AS (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment, CAST(rk AS BIGINT) AS rk, o_orderkey,
       round(o_totalprice, 2) AS total_price
FROM ranked WHERE rk <= 3 ORDER BY c_mktsegment, rk
"""


def q_lag_diff_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First difference + %-change over a monthly series per group — the
    native recomputation of the reference's precomputed `_diff`/`_diff_p`
    columns (SURVEY §2.E; reference graph.py:88-103).

    W = partitionBy(series key).orderBy(period); diff = x - lag(x);
    diff_p = diff / lag(x) * 100. First period → NULL (no prior).
    """
    li = load_table(spark, sf_dir, "lineitem")
    monthly = (
        li.groupBy(
            F.col("l_returnflag").alias("series"),
            F.to_date(F.date_trunc("month", "l_shipdate")).alias("month"),
        )
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("series").orderBy("month")
    return (
        monthly.withColumn("prev", F.lag("revenue").over(w))
        .select(
            "series",
            "month",
            "revenue",
            F.round(F.col("revenue") - F.col("prev"), 2).alias("revenue_diff"),
            F.round(
                (F.col("revenue") - F.col("prev")) / F.col("prev") * 100, 4
            ).alias("revenue_diff_p"),
        )
        .transform(order_result, "series", "month")
    )


ORACLE_LAG_DIFF_PCT = """
WITH monthly AS (
  SELECT l_returnflag AS series,
         date_trunc('month', l_shipdate) AS month,
         round(sum(l_extendedprice), 2) AS revenue
  FROM lineitem GROUP BY 1, 2
), lagged AS (
  SELECT *, lag(revenue) OVER (PARTITION BY series ORDER BY month) AS prev
  FROM monthly
)
SELECT series, month, revenue,
       round(revenue - prev, 2) AS revenue_diff,
       round((revenue - prev) / prev * 100, 4) AS revenue_diff_p
FROM lagged ORDER BY series, month
"""


def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer over order time (unbounded-preceding
    frame). Left-to-right accumulation order is identical in both engines, so
    doubles agree bit-for-bit before rounding."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        )
        .transform(order_result, "o_custkey", "o_orderdate", "o_orderkey")
    )


ORACLE_RUNNING_SUM = """
SELECT o_custkey, o_orderkey, o_orderdate,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey
         ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders WHERE o_custkey < 100
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-month moving average of monthly revenue per series (bounded ROWS
    frame) — the smoothing companion to q_lag_diff_pct."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = (
        li.groupBy(
            F.col("l_returnflag").alias("series"),
            F.to_date(F.date_trunc("month", "l_shipdate")).alias("month"),
        )
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
    )
    w = (
        Window.partitionBy("series")
        .orderBy("month")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        monthly.select(
            "series",
            "month",
            "revenue",
            F.round(F.avg("revenue").over(w), 2).alias("revenue_ma3"),
        )
        .transform(order_result, "series", "month")
    )


ORACLE_MOVING_AVG = """
WITH monthly AS (
  SELECT l_returnflag AS series,
         date_trunc('month', l_shipdate) AS month,
         round(sum(l_extendedprice), 2) AS revenue
  FROM lineitem GROUP BY 1, 2
)
SELECT series, month, revenue,
       round(avg(revenue) OVER (
         PARTITION BY series ORDER BY month
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS revenue_ma3
FROM monthly ORDER BY series, month
"""


def q_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank of suppliers by balance within nation (ranking family)."""
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    return s.select(
        F.col("s_nationkey").cast("long").alias("nation_key"),
        "s_suppkey",
        F.round("s_acctbal", 2).alias("acctbal"),
        F.dense_rank().over(w).cast("long").alias("bal_rank"),
    ).transform(order_result, "nation_key", "bal_rank", "s_suppkey")


ORACLE_RANK_DENSE = """
SELECT CAST(s_nationkey AS BIGINT) AS nation_key, s_suppkey,
       round(s_acctbal, 2) AS acctbal,
       CAST(dense_rank() OVER (
         PARTITION BY s_nationkey
         ORDER BY s_acctbal DESC, s_suppkey ASC) AS BIGINT) AS bal_rank
FROM supplier ORDER BY nation_key, bal_rank, s_suppkey
"""


def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (quarterly→wide reshaping; companion of
    the reference's viz-prep tables, SURVEY §2 P11/U2)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnsRenamed({"O": "qty_open", "F": "qty_filled"})
        .transform(order_result, "l_returnflag")
    )


ORACLE_PIVOT_WIDE = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot three measure columns to long form — the Spark-native
    replacement for the reference's quarterly→monthly row loop
    (SURVEY §2.J; reference data_viz.py:26-50 → df.unpivot)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") < 100)
        .unpivot(
            ids=["l_orderkey", "l_linenumber"],
            values=["l_quantity", "l_discount", "l_tax"],
            variableColumnName="measure",
            valueColumnName="val",
        )
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("line_no"),
            "measure",
            F.round("val", 2).alias("val"),
        )
        .transform(order_result, "l_orderkey", "line_no", "measure")
    )


ORACLE_UNPIVOT_LONG = """
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no, measure,
       round(val, 2) AS val
FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
  FROM lineitem WHERE l_orderkey < 100
)
ORDER BY l_orderkey, line_no, measure
"""


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with grand total — grouping-sets
    family (SURVEY §2.D "not present" row, engine extension)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .transform(
            order_result,
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


ORACLE_ROLLUP_AGG = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def q_analytic_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics per order-priority partition: quartile bucket
    (ntile), percent_rank, cume_dist, and the partition's first/last price
    (unbounded frame). One window spec → one shuffle on the partition key;
    all five functions evaluate in the same sorted pass."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    wframe = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("price"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.round(F.first("o_totalprice").over(wframe), 2).alias("part_min"),
            F.round(F.last("o_totalprice").over(wframe), 2).alias("part_max"),
        )
        .transform(order_result, "o_orderpriority", "price", "o_orderkey")
    )


ORACLE_ANALYTIC_DIST = """
SELECT o_orderkey, o_orderpriority,
       round(o_totalprice, 2) AS price,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       round(first_value(o_totalprice) OVER wf, 2) AS part_min,
       round(last_value(o_totalprice) OVER wf, 2) AS part_max
FROM orders WHERE o_orderkey < 2000
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice ASC, o_orderkey ASC),
       wf AS (PARTITION BY o_orderpriority
              ORDER BY o_totalprice ASC, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_orderpriority, price, o_orderkey
"""


QUERIES = {
    "analytic_dist": q_analytic_dist,
    "topk_per_group": q_topk_per_group,
    "lag_diff_pct": q_lag_diff_pct,
    "running_sum": q_running_sum,
    "moving_avg": q_moving_avg,
    "rank_dense": q_rank_dense,
    "pivot_wide": q_pivot_wide,
    "unpivot_long": q_unpivot_long,
    "rollup_agg": q_rollup_agg,
}

ORACLE = {
    "analytic_dist": ORACLE_ANALYTIC_DIST,
    "topk_per_group": ORACLE_TOPK_PER_GROUP,
    "lag_diff_pct": ORACLE_LAG_DIFF_PCT,
    "running_sum": ORACLE_RUNNING_SUM,
    "moving_avg": ORACLE_MOVING_AVG,
    "rank_dense": ORACLE_RANK_DENSE,
    "pivot_wide": ORACLE_PIVOT_WIDE,
    "unpivot_long": ORACLE_UNPIVOT_LONG,
    "rollup_agg": ORACLE_ROLLUP_AGG,
}


# --------------------------------------------------------------------------
# rank_global_twophase — exact global ranks without a serialized sort
# --------------------------------------------------------------------------

_NTILES = 4


def q_rank_global_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-priority ntile/percent_rank/cume_dist computed WITHOUT a
    single window over the low-cardinality partition key — the distributed
    answer to "5 distinct priorities ⇒ 5 tasks sort the whole fact table"
    (the q_topk_per_group problem, VERDICT r1 #5, applied to ranking).

    Plan: ``repartitionByRange`` on the global sort key (sampling picks
    balanced boundaries) → local ``row_number`` within (priority,
    range-partition) → per-partition counts (tiny: n_priorities ×
    n_partitions rows) → running-offset window over that tiny table →
    broadcast offsets back.  global_rank = offset + local_rank holds
    because range partitioning guarantees every row in an earlier partition
    sorts first.  Executed cost: two wide exchanges of the fact (the range
    exchange, then the local window's hash-clustering on (priority, pid) —
    range partitioning can't satisfy a ClusteredDistribution), but the sort
    itself runs across n_priorities × n_range_partitions groups on every
    core, never 5 serialized tasks; at scale the extra exchange is the
    price of exactness, and n_range_partitions scales with the data.  percent_rank/cume_dist/ntile then follow
    from (rank, group size) by their ANSI formulas — exact here because the
    sort key is made unique with the o_orderkey tie-break.

    The oracle computes the same numbers with DuckDB's *actual* window
    functions, so this query is an engine-vs-engine proof that the two-phase
    plan reproduces canonical ntile/percent_rank/cume_dist semantics."""
    o = load_table(spark, sf_dir, "orders")
    order_cols = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    ranged = o.select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    ).repartitionByRange(32, *order_cols)
    base = ranged.withColumn("pid", F.spark_partition_id())

    w_local = Window.partitionBy("o_orderpriority", "pid").orderBy(*order_cols)
    local = base.withColumn("lrk", F.row_number().over(w_local))

    counts = base.groupBy("o_orderpriority", "pid").agg(
        F.count("*").alias("cnt")
    )
    w_off = (
        Window.partitionBy("o_orderpriority")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "o_orderpriority",
        "pid",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off"),
        F.sum("cnt").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )

    rk = (F.col("off") + F.col("lrk")).alias("rk")
    ranked = local.join(
        F.broadcast(offsets), ["o_orderpriority", "pid"]
    ).select("o_orderpriority", "o_totalprice", "n", rk)

    # ANSI formulas (unique sort key ⇒ no peer groups):
    #   percent_rank = (rk-1)/(n-1); cume_dist = rk/n;
    #   ntile(t): q=n div t, r=n mod t — first r tiles get q+1 rows.
    q_, r_ = (F.col("n") / _NTILES).cast("long"), F.col("n") % _NTILES
    head = r_ * (q_ + 1)
    tile = F.when(
        F.col("rk") <= head, ((F.col("rk") - 1) / (q_ + 1)).cast("long") + 1
    ).otherwise(r_ + ((F.col("rk") - head - 1) / q_).cast("long") + 1)
    pr = F.when(
        F.col("n") > 1, (F.col("rk") - 1) / (F.col("n") - 1)
    ).otherwise(F.lit(0.0))
    enriched = ranked.select(
        "o_orderpriority",
        "o_totalprice",
        tile.alias("tile"),
        pr.alias("pr"),
        (F.col("rk") / F.col("n")).alias("cd"),
    )
    return (
        enriched.groupBy("o_orderpriority", "tile")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.min("pr"), 6).alias("min_pr"),
            F.round(F.max("cd"), 6).alias("max_cd"),
            F.round(F.sum("o_totalprice"), 2).alias("tile_value"),
        )
        .transform(order_result, "o_orderpriority", "tile")
    )


ORACLE_RANK_GLOBAL_TWOPHASE = f"""
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         ntile({_NTILES}) OVER w AS tile,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC)
)
SELECT o_orderpriority, CAST(tile AS BIGINT) AS tile,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(min(pr), 6) AS min_pr,
       round(max(cd), 6) AS max_cd,
       round(sum(o_totalprice), 2) AS tile_value
FROM ranked
GROUP BY o_orderpriority, tile
ORDER BY o_orderpriority, tile
"""

QUERIES["rank_global_twophase"] = q_rank_global_twophase
ORACLE["rank_global_twophase"] = ORACLE_RANK_GLOBAL_TWOPHASE


# --------------------------------------------------------------------------
# ts_ewma — exponentially weighted moving average (bounded window)
# --------------------------------------------------------------------------

_EWMA_ALPHA = 0.25  # decay 1-alpha = 0.75
_EWMA_SPAN = 30


def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-row EWMA (α=0.25, adjusted weights) of daily order value per
    priority.  Exact infinite-history EWMA is a sequential recurrence — the
    streaming tier's job (applyInPandasWithState) — but the bounded-window
    form is fully declarative: ``collect_list`` over a 30-row frame, then
    one higher-order ``transform``+``aggregate`` computes
    Σ wᵢxᵢ / Σ wᵢ with wᵢ = 0.75^(age) inside codegen.  Truncation error
    vs infinite history is ≤0.75³⁰ ≈ 1.8e-4 relative — below the rounded
    output resolution.  The window partitions by priority over DAILY
    pre-aggregated rows, so frame memory is 30 doubles regardless of
    corpus size, and the daily pre-agg is the only fact-scale shuffle."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy("o_orderpriority", "o_orderdate").agg(
        F.round(F.sum("o_totalprice"), 2).alias("v")
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate")
        .rowsBetween(-(_EWMA_SPAN - 1), 0)
    )
    xs = F.collect_list("v").over(w)
    decay = 1.0 - _EWMA_ALPHA
    num = (
        f"aggregate(transform(xs, (x, i) -> x * pow({decay}, size(xs)-1-i)),"
        " 0D, (a, x) -> a + x)"
    )
    den = (
        f"aggregate(transform(xs, (x, i) -> pow({decay}, size(xs)-1-i)),"
        " 0D, (a, x) -> a + x)"
    )
    return (
        daily.withColumn("xs", xs)
        .select(
            "o_orderpriority",
            "o_orderdate",
            "v",
            F.round(F.expr(num) / F.expr(den), 4).alias("ewma"),
        )
        .transform(order_result, "o_orderpriority", "o_orderdate")
    )


ORACLE_TS_EWMA = f"""
WITH daily AS (
  SELECT o_orderpriority, o_orderdate, round(sum(o_totalprice), 2) AS v
  FROM orders GROUP BY o_orderpriority, o_orderdate
), wl AS (
  SELECT o_orderpriority, o_orderdate, v,
         list(v) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
                       ROWS BETWEEN {_EWMA_SPAN - 1} PRECEDING
                       AND CURRENT ROW) AS xs
  FROM daily
)
SELECT o_orderpriority, o_orderdate, v,
       round(
         list_aggregate(
           list_transform(xs, (x, i) -> x * pow(0.75, len(xs) - i)), 'sum') /
         list_aggregate(
           list_transform(xs, (x, i) -> pow(0.75, len(xs) - i)), 'sum'),
         4) AS ewma
FROM wl ORDER BY o_orderpriority, o_orderdate
"""

QUERIES["ts_ewma"] = q_ts_ewma
ORACLE["ts_ewma"] = ORACLE_TS_EWMA


# --------------------------------------------------------------------------
# window_range_frame — event-time RANGE frame (value-based, not row-based)
# --------------------------------------------------------------------------


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE window frame — the burst-detection shape: for every
    event, the trailing 30-minute count/sum over the SAME USER's events,
    rolled up to each user's peak. ROWS frames (every other window in this
    module) count physical rows; a RANGE frame bounds the frame by ORDER-KEY
    VALUE, which is the correct semantics for time windows over irregular
    event spacing (and handles timestamp ties as peers, deterministically).

    The order key is ``unix_micros(ts)`` — exact integer microseconds, so
    the 30-minute boundary decision is bit-identical across engines (a
    double epoch key would round at ~2e-7 s; the long key can't — the same
    truncation-vs-exact lesson as events_session_gaps).

    100 TB: one shuffle on user_id; within each partition the range frame
    is computed over the sorted run — Spark's window operator keeps a
    sliding frame, never materializing per-row frames. The peak rollup
    reuses the user_id partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-1_800_000_000, 0)
    )
    rolled = ev.select(
        "user_id",
        F.count(F.lit(1)).over(w).alias("roll_n"),
        F.sum("value").over(w).alias("roll_v"),
    )
    return (
        rolled.groupBy("user_id")
        .agg(
            F.max("roll_n").cast("long").alias("peak_events_30m"),
            F.round(F.max("roll_v"), 2).alias("peak_value_30m"),
        )
        .transform(order_result, "user_id")
    )


ORACLE_WINDOW_RANGE_FRAME = """
WITH r AS (
  SELECT user_id,
         count(*) OVER w AS roll_n,
         sum(value) OVER w AS roll_v
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
)
SELECT user_id, CAST(max(roll_n) AS BIGINT) AS peak_events_30m,
       round(max(roll_v), 2) AS peak_value_30m
FROM r GROUP BY user_id ORDER BY user_id
"""

QUERIES["window_range_frame"] = q_window_range_frame
ORACLE["window_range_frame"] = ORACLE_WINDOW_RANGE_FRAME
