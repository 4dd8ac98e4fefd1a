"""Join family — broadcast dim joins, anti/semi, as-of, range.

Covers SURVEY.md §2.C: J1 (left equi-join fact x small dim; reference
data_process.py:229-238), J2 (anti-join exclusion; :240), J3 (external-table
join), plus the extension joins the reference lacks (as-of, range, semi) that
SURVEY §2.C marks for the engine surface.

Scale notes: dims (nation/region/customer) are broadcast explicitly; the as-of
join is an equi-join on the entity key followed by a per-key window — at 100 TB
the equi key (user_id) partitions the shuffle, so no cross product ever forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.io import load_table, order_result


def q_join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation in one region — fact chain with broadcast dims (J1/J3).

    lineitem⋈orders shuffles on the order key; nation/region carry
    explicit broadcast hints (genuinely FIXED-size dims — 25/5 rows at
    any scale; the reference's naics-description join at
    data_process.py:229-238 is the same shape). customer is
    corpus-scaled (150k x sf rows — TB-class at the 100 TB design
    point), so it carries NO forced hint (late-r11 review): size-based
    planning/AQE broadcasts it at runtime whenever it is genuinely
    small, which it is at every tested scale, so the physical plan is
    unchanged here while the forced-OOM hazard at production scale is
    gone.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .transform(order_result, F.col("revenue").desc(), F.col("n_name"))
    )


ORACLE_JOIN_BROADCAST_DIMS = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders — left_anti (SURVEY §2 J2: the reference's
    invalid-NAICS exclusion, data_process.py:240, generalized from isin-literal
    to a table-sourced anti-join, the 100 TB form per SURVEY §4 note 4)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers_no_big_orders"))
        .transform(order_result, "c_mktsegment")
    )


ORACLE_JOIN_ANTI = """
SELECT c_mktsegment, count(*) AS n_customers_no_big_orders
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations that have at least one supplier with positive balance —
    left_semi (EXISTS), the complement of J2 in the engine's join family."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return (
        n.join(
            s.filter(F.col("s_acctbal") > 0),
            n.n_nationkey == s.s_nationkey,
            "left_semi",
        )
        .select(F.col("n_nationkey").cast("long").alias("nation_key"), "n_name")
        .transform(order_result, "nation_key")
    )


ORACLE_JOIN_SEMI = """
SELECT CAST(n_nationkey AS BIGINT) AS nation_key, n_name
FROM nation
WHERE EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey AND s_acctbal > 0)
ORDER BY nation_key
"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every error event, the user's most recent purchase at or
    before it (SURVEY §2.C "not present" row — engine extension).

    Implementation is equi-join on user_id + range predicate + per-left-row
    window argmax — the composition SURVEY §2.C prescribes. The user_id equi
    key keeps the shuffle partitioned; ties broken by purchase event_id.
    """
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id"),
        F.col("ts").alias("err_ts"),
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pur_id"),
        F.col("user_id").alias("pur_user"),
        F.col("ts").alias("pur_ts"),
        F.col("value").alias("pur_value"),
    )
    joined = err.join(
        pur,
        (err.user_id == pur.pur_user) & (pur.pur_ts <= err.err_ts),
        "left",
    )
    w = Window.partitionBy("err_id").orderBy(
        F.col("pur_ts").desc(), F.col("pur_id").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "err_id",
            "user_id",
            "err_ts",
            F.col("pur_id").alias("last_purchase_id"),
            F.round("pur_value", 2).alias("last_purchase_value"),
        )
        .transform(order_result, "err_id")
    )


ORACLE_JOIN_ASOF = """
WITH err AS (
  SELECT event_id AS err_id, user_id, ts AS err_ts
  FROM events WHERE event_type = 'error'
), pur AS (
  SELECT event_id AS pur_id, user_id AS pur_user, ts AS pur_ts, value AS pur_value
  FROM events WHERE event_type = 'purchase'
), joined AS (
  SELECT err.*, pur.pur_id, pur.pur_ts, pur.pur_value,
         row_number() OVER (
           PARTITION BY err_id
           ORDER BY pur_ts DESC NULLS LAST, pur_id DESC NULLS LAST) AS rn
  FROM err LEFT JOIN pur
    ON err.user_id = pur.pur_user AND pur.pur_ts <= err.err_ts
)
SELECT err_id, user_id, err_ts, pur_id AS last_purchase_id,
       round(pur_value, 2) AS last_purchase_value
FROM joined WHERE rn = 1 ORDER BY err_id
"""


def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: purchases by the same user within the hour before
    each error event — engine extension per SURVEY §2.C."""
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id"),
        F.col("ts").alias("err_ts"),
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pur_id"),
        F.col("user_id").alias("pur_user"),
        F.col("ts").alias("pur_ts"),
    )
    joined = err.join(
        pur,
        (err.user_id == pur.pur_user)
        & (pur.pur_ts <= err.err_ts)
        & (pur.pur_ts > err.err_ts - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return (
        joined.groupBy("err_id", "user_id")
        .agg(F.count("pur_id").alias("purchases_last_hour"))
        .transform(order_result, "err_id")
    )


ORACLE_JOIN_RANGE = """
WITH err AS (
  SELECT event_id AS err_id, user_id, ts AS err_ts
  FROM events WHERE event_type = 'error'
), pur AS (
  SELECT event_id AS pur_id, user_id AS pur_user, ts AS pur_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT err_id, user_id, count(pur_id) AS purchases_last_hour
FROM err LEFT JOIN pur
  ON err.user_id = pur.pur_user
 AND pur.pur_ts <= err.err_ts
 AND pur.pur_ts > err.err_ts - INTERVAL 1 HOUR
GROUP BY err_id, user_id ORDER BY err_id
"""


def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened equi-join (ext.skew.salted_join): lineitem × supplier
    with the fact side scattered over 8 salted copies of the dim. Result is
    EXACTLY the plain join (the oracle computes it unsalted); only the
    physical key distribution changes — the pattern for power-law join keys
    where AQE skew handling doesn't apply (broadcast-ineligible mid-size
    dims, streaming joins)."""
    from jp_qcew_spark.ext.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name", "s_nationkey"
    )
    joined = salted_join(li, s, on=["l_suppkey"], n_salts=8)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .transform(order_result, "s_nationkey")
    )


ORACLE_JOIN_SALTED = """
SELECT s_nationkey, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey ORDER BY s_nationkey
"""


QUERIES = {
    "join_salted_skew": q_join_salted_skew,
    "join_broadcast_dims": q_join_broadcast_dims,
    "join_anti": q_join_anti,
    "join_semi": q_join_semi,
    "join_asof": q_join_asof,
    "join_range": q_join_range,
}

ORACLE = {
    "join_salted_skew": ORACLE_JOIN_SALTED,
    "join_broadcast_dims": ORACLE_JOIN_BROADCAST_DIMS,
    "join_anti": ORACLE_JOIN_ANTI,
    "join_semi": ORACLE_JOIN_SEMI,
    "join_asof": ORACLE_JOIN_ASOF,
    "join_range": ORACLE_JOIN_RANGE,
}


# --------------------------------------------------------------------------
# regional_volume — TPC-H Q5-shaped 6-table star join
# --------------------------------------------------------------------------


def q_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per (region, nation) where the supplier and customer share a
    nation — the classic TPC-H Q5 join topology: lineitem ⋈ orders ⋈
    customer ⋈ supplier ⋈ nation ⋈ region with the cross-dimension
    ``c_nationkey = s_nationkey`` constraint.

    Scale shape: nation (25 rows) and region (5) are broadcast — they never
    shuffle.  customer/supplier/orders/lineitem are fact-scale and join on
    their natural keys as shuffle joins; AQE reorders and picks sides at
    runtime.  The nationkey equality is applied as a join condition (not a
    post-filter) so Catalyst prunes non-matching pairs before the lineitem
    fan-in.  Map-side partial aggregation collapses the result to ≤
    |nation| rows before the final exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.select("r_name", "n_name", rev)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
        .transform(order_result, "r_name", "n_name")
    )


ORACLE_REGIONAL_VOLUME = """
SELECT r_name, n_name,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""

QUERIES["regional_volume"] = q_regional_volume
ORACLE["regional_volume"] = ORACLE_REGIONAL_VOLUME


# --------------------------------------------------------------------------
# bucketed_colocated_join — the write-time shuffle is the last shuffle
# --------------------------------------------------------------------------


def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ fact equi-join over co-bucketed tables
    (operators/bucketing.py): both sides are first persisted bucketed+sorted
    on the join key, then joined THROUGH THE CATALOG — with matching bucket
    counts the join plans with zero Exchange on either side, because the
    scan's outputPartitioning already satisfies the join's distribution
    requirement. This registers the 100 TB co-location story as a
    driver-checkable query (tests/test_bucketing.py pins the zero-Exchange
    plan; the oracle pins that the layout detour loses no rows).

    The bucketed write happens into /tmp per invocation (mode=overwrite →
    idempotent); in production that cost is paid once at ingest and
    amortized over every subsequent join/agg on the key. Path and table
    names carry the Spark application id: a fixed location let a second
    engine process overwrite the files mid-read (observed as a
    FileNotFoundException race when the test suite and a driver
    simulation ran concurrently) — per-application layout keeps each
    session's bucketed tables private while staying idempotent within
    the session, and the layout registers for atexit cleanup so repeated
    sessions don't accumulate /tmp data or catalog entries (ADVICE r6;
    operators/bucketing.py::register_layout_cleanup)."""
    from jp_qcew_spark.operators.bucketing import (
        bucketed_join,
        register_layout_cleanup,
        write_bucketed,
    )

    app = spark.sparkContext.applicationId.replace("-", "_")
    base = f"/tmp/jp_qcew_bucketed_{app}"
    t_orders, t_li = f"bco_orders_{app}", f"bco_lineitem_{app}"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_quantity",
        "l_extendedprice",
    )
    write_bucketed(
        orders, t_orders, ["o_orderkey"], 8, path=f"{base}/orders",
    )
    write_bucketed(
        li, t_li, ["o_orderkey"], 8, path=f"{base}/lineitem",
    )
    register_layout_cleanup(spark, [t_orders, t_li], base)
    j = bucketed_join(spark, t_orders, t_li, ["o_orderkey"])
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .transform(order_result, "o_orderpriority")
    )


ORACLE_BUCKETED_COLOCATED_JOIN = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

QUERIES["bucketed_colocated_join"] = q_bucketed_colocated_join
ORACLE["bucketed_colocated_join"] = ORACLE_BUCKETED_COLOCATED_JOIN


# --------------------------------------------------------------------------
# join_asof_nearest — bidirectional as-of (nearest event, feature-store join)
# --------------------------------------------------------------------------


def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event as-of join: for every error event, the user's
    purchase closest in time in EITHER direction — the feature-store
    "nearest" variant completing the as-of family next to
    ``join_asof``'s backward-only semantics (SURVEY §2.C extension row).

    Same scale shape as the backward as-of: equi-join on user_id keeps
    the shuffle keyed; the per-left-row argmin rides a window. Distances
    compare in EXACT MICROSECONDS (``unix_micros`` / ``epoch_us``) — a
    seconds cast would truncate sub-second gaps and silently flip the
    winner between engines (the round-4 session-gap lesson). Equidistant
    ties pin deterministically: earlier purchase first, then event_id.
    """
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id"),
        F.col("ts").alias("err_ts"),
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pur_id"),
        F.col("user_id").alias("pur_user"),
        F.col("ts").alias("pur_ts"),
        F.col("value").alias("pur_value"),
    )
    joined = err.join(pur, err.user_id == pur.pur_user, "left")
    dist = F.abs(F.unix_micros("pur_ts") - F.unix_micros("err_ts"))
    # nulls-LAST on every key: Spark's asc() default is NULLS FIRST but
    # the oracle's plain ASC is DuckDB NULLS LAST — a NULL purchase ts
    # would otherwise win the argmin on one engine and lose on the
    # other (late-r11 review; latent, fixtures carry no NULL ts)
    w = Window.partitionBy("err_id").orderBy(
        dist.asc_nulls_last(),
        F.col("pur_ts").asc_nulls_last(),
        F.col("pur_id").asc_nulls_last(),
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "err_id",
            "user_id",
            "err_ts",
            F.col("pur_id").alias("nearest_purchase_id"),
            dist.cast("long").alias("dist_us"),
            F.round("pur_value", 2).alias("nearest_purchase_value"),
        )
        .transform(order_result, "err_id")
    )


ORACLE_JOIN_ASOF_NEAREST = """
WITH err AS (
  SELECT event_id AS err_id, user_id, ts AS err_ts
  FROM events WHERE event_type = 'error'
), pur AS (
  SELECT event_id AS pur_id, user_id AS pur_user, ts AS pur_ts, value AS pur_value
  FROM events WHERE event_type = 'purchase'
), ranked AS (
  SELECT e.err_id, e.user_id, e.err_ts, p.pur_id,
         abs(epoch_us(p.pur_ts) - epoch_us(e.err_ts)) AS dist_us,
         p.pur_value,
         row_number() OVER (
           PARTITION BY e.err_id
           ORDER BY abs(epoch_us(p.pur_ts) - epoch_us(e.err_ts)) ASC,
                    p.pur_ts ASC, p.pur_id ASC) AS rn
  FROM err e LEFT JOIN pur p ON e.user_id = p.pur_user
)
SELECT err_id, user_id, err_ts,
       pur_id AS nearest_purchase_id,
       CAST(dist_us AS BIGINT) AS dist_us,
       round(pur_value, 2) AS nearest_purchase_value
FROM ranked WHERE rn = 1 ORDER BY err_id
"""

QUERIES["join_asof_nearest"] = q_join_asof_nearest
ORACLE["join_asof_nearest"] = ORACLE_JOIN_ASOF_NEAREST
