"""Warehouse / CDC / data-profiling tier: SCD2 dimension history, event
funnel, single-pass column profiling.

Extension surface beyond the reference (which stops at flat NAICS/wage
aggregates — data_process.py:35-274): the three ops every warehouse user of
the engine reaches for next. All are pure DataFrame compositions — no UDFs,
no collect.

Scale notes (100 TB):
- SCD2: one shuffle on user_id (the natural dimension key); ``lead`` window
  sorts only within each key's partition — no global sort in the versioning
  step itself (the final orderBy is presentation-only).
- Funnel: three aggregates + two joins ALL keyed on user_id, so the
  partitioning established by the first groupBy is reused end-to-end;
  per-step state is one row per surviving user (monotonically shrinking).
- Profiling: single scan, one agg row, then a constant-size stack() unpivot
  — the multi-column distinct uses Spark's expand (3× row duplication in the
  partial agg), still one shuffle of pre-aggregated partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.io import load_table, order_result


def _purchases(ev: DataFrame) -> DataFrame:
    """One row per purchase event with value rounded to cents — the
    SCD2 changelog slice every warehouse SCD2 query starts from. One
    definition (late-r11 review: the rule existed as three hand-copies,
    so a change to the rounding or the event filter could silently fork
    the dimension semantics between the history build and the
    point-in-time join that consumes it)."""
    return ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", F.round("value", 2).alias("value")
    )


def _purchase_versions(ev: DataFrame) -> DataFrame:
    """The SCD2 version frame: ``_purchases`` plus valid_to = next
    version's ts per user ((ts, event_id) deterministic tie-break).
    Shared by ``q_scd2_history`` and ``q_join_pit_scd2``;
    ``q_scd2_upsert`` shares only ``_purchases`` because it windows its
    own pre-cutoff slice (lead over a filtered changelog is a different
    frame)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _purchases(ev).withColumn("valid_to", F.lead("ts").over(w))


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from a changelog:
    each purchase event is a new version of the user's row; ``valid_from`` =
    event ts, ``valid_to`` = next version's ts (null = current), with the
    unique event_id as deterministic tie-break within equal timestamps."""
    ev = load_table(spark, sf_dir, "events")
    return (
        _purchase_versions(ev)
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("valid_from"),
            "valid_to",
            "value",
            F.col("valid_to").isNull().cast("long").alias("is_current"),
        )
        .transform(order_result, "user_id", "valid_from", "event_id")
    )


ORACLE_SCD2 = """
WITH v AS (
  SELECT user_id, event_id, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to,
         round(value, 2) AS value
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, event_id, valid_from, valid_to, value,
       CAST(valid_to IS NULL AS BIGINT) AS is_current
FROM v ORDER BY user_id, valid_from, event_id
"""


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts at
    step k only if step k's first event occurs at-or-after their first
    step-(k-1) event. Strictly ordered semantics (not mere set membership)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    fc = (
        ev.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        fv.join(fc, "user_id", "left")
        .join(fp, "user_id", "left")
        .agg(
            F.count("t_view").alias("n_view"),
            F.count("t_click").alias("n_click_after_view"),
            F.count("t_purchase").alias("n_purchase_after_click"),
        )
    )


ORACLE_FUNNEL = """
WITH fv AS (
  SELECT user_id, min(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY 1
), fc AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN fv USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= fv.t_view GROUP BY 1
), fp AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN fc USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= fc.t_click GROUP BY 1
)
SELECT count(t_view) AS n_view,
       count(t_click) AS n_click_after_view,
       count(t_purchase) AS n_purchase_after_click
FROM fv LEFT JOIN fc USING (user_id) LEFT JOIN fp USING (user_id)
"""


_PROFILE_COLS = ("lang", "source", "text")


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the data-quality pass before any training run):
    per string column of ``documents`` — row/null/distinct counts and
    min/max/avg byte length — computed in ONE scan producing one wide row,
    then unpivoted to a row per column with ``stack``."""
    d = load_table(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"n_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nul_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(F.length(c)).cast("long").alias(f"mn_{c}"),
            F.max(F.length(c)).cast("long").alias(f"mx_{c}"),
            F.round(F.avg(F.length(c)), 4).alias(f"av_{c}"),
        ]
    wide = d.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_{c}, nul_{c}, nd_{c}, mn_{c}, mx_{c}, av_{c}"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_len, max_len, avg_len)"
    ).orderBy("col_name")


ORACLE_PROFILE = """
SELECT * FROM (
  SELECT 'lang' AS col_name, count(*) AS n_rows,
         CAST(count(*) - count(lang) AS BIGINT) AS n_nulls,
         count(DISTINCT lang) AS n_distinct,
         CAST(min(length(lang)) AS BIGINT) AS min_len,
         CAST(max(length(lang)) AS BIGINT) AS max_len,
         round(avg(length(lang)), 4) AS avg_len
  FROM documents
  UNION ALL
  SELECT 'source', count(*), CAST(count(*) - count(source) AS BIGINT),
         count(DISTINCT source), CAST(min(length(source)) AS BIGINT),
         CAST(max(length(source)) AS BIGINT),
         round(avg(length(source)), 4)
  FROM documents
  UNION ALL
  SELECT 'text', count(*), CAST(count(*) - count(text) AS BIGINT),
         count(DISTINCT text), CAST(min(length(text)) AS BIGINT),
         CAST(max(length(text)) AS BIGINT),
         round(avg(length(text)), 4)
  FROM documents
) ORDER BY col_name
"""


QUERIES = {
    "scd2_history": q_scd2_history,
    "funnel_steps": q_funnel_steps,
    "profile_columns": q_profile_columns,
}
ORACLE = {
    "scd2_history": ORACLE_SCD2,
    "funnel_steps": ORACLE_FUNNEL,
    "profile_columns": ORACLE_PROFILE,
}


# --------------------------------------------------------------------------
# copurchase_pairs — market-basket co-occurrence mining
# --------------------------------------------------------------------------


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs most often ordered together — the market-basket
    co-occurrence join that powers "frequently bought together".

    Plan: project lineitem to distinct (orderkey, partkey), self-join on
    orderkey with ``p1 < p2`` (each unordered pair counted once), count per
    pair, global top-20 via orderBy+limit (Spark compiles that to
    TakeOrderedAndProject — a per-partition heap then a driver merge of 20-row
    heads, never a full sort).  Scale: the self-join is co-partitioned on
    orderkey (one shuffle of a 2-column projection); fan-out per order is
    C(k,2) with k = basket size, bounded by the order, not the corpus.
    Tie-break (n desc, p1, p2) makes the cut deterministic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
    )
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "p1", "p2")
        .limit(20)
    )


ORACLE_COPURCHASE_PAIRS = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS p1, b.l_partkey AS p2,
       CAST(count(*) AS BIGINT) AS n_orders
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY p1, p2
ORDER BY n_orders DESC, p1, p2
LIMIT 20
"""


# --------------------------------------------------------------------------
# cohort_retention — weekly cohort × age retention matrix
# --------------------------------------------------------------------------


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: users grouped by first-seen week (cohort),
    counted distinct in each subsequent week — the standard product-analytics
    triangle.

    Plan: per-user min(ts) is one shuffle on user_id; the events→cohort join
    is then co-partitioned on the same key (AQE reuses the exchange);
    the final (cohort_week, week_age) distinct-count aggregates to a tiny
    triangle.  Weeks are ISO date_trunc('week') on both engines; the age is
    day-diff/7, exact because both sides are Monday-start truncations."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    cohorts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    joined = ev.join(cohorts, "user_id")
    cw = F.to_date(F.date_trunc("week", F.col("first_ts")))
    ew = F.to_date(F.date_trunc("week", F.col("ts")))
    return (
        joined.select(
            cw.alias("cohort_week"),
            (F.datediff(ew, cw) / 7).cast("long").alias("week_age"),
            "user_id",
        )
        .groupBy("cohort_week", "week_age")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .transform(order_result, "cohort_week", "week_age")
    )


ORACLE_COHORT_RETENTION = """
WITH cohorts AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT CAST(date_trunc('week', c.first_ts) AS DATE) AS cohort_week,
       CAST(date_diff('day', date_trunc('week', c.first_ts),
                      date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_age,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN cohorts c USING (user_id)
GROUP BY cohort_week, week_age
ORDER BY cohort_week, week_age
"""

QUERIES["copurchase_pairs"] = q_copurchase_pairs
ORACLE["copurchase_pairs"] = ORACLE_COPURCHASE_PAIRS
QUERIES["cohort_retention"] = q_cohort_retention
ORACLE["cohort_retention"] = ORACLE_COHORT_RETENTION


# --------------------------------------------------------------------------
# merge_upsert — MERGE INTO (SCD type-1) semantics as a relational plan
# --------------------------------------------------------------------------


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse MERGE/upsert (SCD type 1) expressed as one full-outer
    join — the write path every dimension-maintenance pipeline needs and
    plain SQL engines spell ``MERGE INTO``:

    - target  = the dimension snapshot (customers with ``custkey % 10 != 0``
      — the missing tenth models rows the warehouse has never seen),
    - source  = the change set (per-customer 1997 order activity),
    - matched           → UPDATE  (balance += order delta),
    - source-not-target → INSERT  (new row seeded from the delta),
    - target-not-source → carry forward unchanged.

    Output is the merge audit: per action, row count and the post-merge
    balance mass (summed exactly as DECIMAL so the hash is stable).

    100 TB: a single equi-shuffle full-outer join on the dimension key —
    both sides fact-scale so no broadcast; AQE coalesces the post-join
    partitions; classification and arithmetic are codegen'd projections.
    On a real lakehouse the same plan feeds a partition-overwrite sink
    (operators/etl.py) — MERGE is join + classify + write, not a special
    engine verb."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    target = cust.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("bal")
    )
    source = (
        orders.filter(F.year("o_orderdate") == 1997)
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("delta"))
    )
    merged = target.join(source, "key", "full_outer").select(
        "key",
        F.when(F.col("bal").isNotNull() & F.col("delta").isNotNull(), "update")
        .when(F.col("bal").isNull(), "insert")
        .otherwise("unchanged")
        .alias("action"),
        F.round(
            F.coalesce(F.col("bal"), F.lit(0.0))
            + F.coalesce(F.col("delta"), F.lit(0.0)),
            2,
        ).alias("new_bal"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("new_bal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_bal"),
        )
        .transform(order_result, "action")
    )


ORACLE_MERGE_UPSERT = """
WITH target AS (
  SELECT c_custkey AS key, c_acctbal AS bal
  FROM customer WHERE c_custkey % 10 != 0
), source AS (
  SELECT o_custkey AS key, round(sum(o_totalprice), 2) AS delta
  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1
), merged AS (
  SELECT
    CASE WHEN bal IS NOT NULL AND delta IS NOT NULL THEN 'update'
         WHEN bal IS NULL THEN 'insert'
         ELSE 'unchanged' END AS action,
    round(coalesce(bal, 0.0) + coalesce(delta, 0.0), 2) AS new_bal
  FROM target FULL OUTER JOIN source USING (key)
)
SELECT action, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(new_bal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
FROM merged GROUP BY action ORDER BY action
"""

QUERIES["merge_upsert"] = q_merge_upsert
ORACLE["merge_upsert"] = ORACLE_MERGE_UPSERT


# --------------------------------------------------------------------------
# outlier_mad — robust (median/MAD) anomaly detection per event type
# --------------------------------------------------------------------------


def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection on ``events.value``: modified
    z-score ``0.6745·(x − median)/MAD`` with the standard 3.5 cutoff
    (Iglewicz–Hoaglin) — the data-quality gate that survives the heavy
    tails that break mean/stddev z-scores.

    Three keyed passes over events, all on ``event_type`` — a low-card
    group key, so the median/MAD tables are k-row and every join back is
    broadcast-sized by construction (AQE picks broadcast; no hint needed):
    1. per-type exact interpolated median (``percentile(value, 0.5)``);
    2. per-type MAD = median of absolute deviations (needs pass 1's result
       joined back row-wise — inherently two-pass, like any exact-median
       chain);
    3. flag + aggregate.  Exact medians shuffle the full column per type;
       the 100 TB variant swaps ``percentile_approx`` in passes 1-2 and
       keeps the same shape.

    Cross-engine pinning: the robust z is ROUNDED to 6 dp on both engines
    BEFORE the 3.5 comparison (raw float pipelines differ at the ulp level
    — same lesson as the geo radius test), and a ``mad > 0`` guard is
    symmetric so a degenerate constant group yields NULL z on both sides
    rather than engine-specific div-by-zero behavior."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        e.join(med, "event_type")
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
        .groupBy("event_type")
        .agg(
            F.min("med").alias("med"),
            F.expr("percentile(adev, 0.5)").alias("mad"),
        )
    )
    arz = F.when(
        F.col("mad") > 0,
        F.round(
            F.abs(0.6745 * (F.col("value") - F.col("med")) / F.col("mad")), 6
        ),
    )
    return (
        e.join(mad, "event_type")
        .withColumn("arz", arz)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(F.when(F.col("arz") > 3.5, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.round(F.max("arz"), 4).alias("max_abs_rz"),
        )
        .transform(order_result, "event_type")
    )


ORACLE_OUTLIER_MAD = r"""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, min(m.med) AS med,
         median(abs(e.value - m.med)) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type
), rz AS (
  SELECT e.event_type, m.med, m.mad,
         CASE WHEN m.mad > 0
              THEN round(abs(0.6745 * (e.value - m.med) / m.mad), 6) END AS arz
  FROM events e JOIN mad m USING (event_type)
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(min(med), 6) AS med, round(min(mad), 6) AS mad,
       CAST(sum(CASE WHEN arz > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(max(arz), 4) AS max_abs_rz
FROM rz GROUP BY event_type ORDER BY event_type
"""

QUERIES["outlier_mad"] = q_outlier_mad
ORACLE["outlier_mad"] = ORACLE_OUTLIER_MAD


# --------------------------------------------------------------------------
# cdc_apply — changelog compaction (CDC snapshot materialization)
# --------------------------------------------------------------------------


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a current-state snapshot from a CDC changelog
    (Debezium-apply / Kafka log-compaction semantics) — the write-side twin
    of ``scd2_history`` (full version history) and ``merge_upsert``
    (two-table merge): here a SINGLE ordered op stream per key compacts to
    last-writer-wins, with delete tombstones REMOVING the key from the
    snapshot entirely.

    Op mapping over ``events``: 'purchase'/'click' are upserts of
    ``value``, 'view' is a delete tombstone; order is (ts, event_id) —
    the unique event_id makes last-writer deterministic under equal
    timestamps (same tie-break discipline as scd2_history).

    Scale shape: ONE shuffle on the key (window partitionBy user_id);
    the per-key sort is partition-local, the filter keeps exactly one row
    per surviving key before the presentation sort. At 100 TB this is the
    standard compaction pass over a day's changelog partition — no join,
    no state beyond the window sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_ops", F.count("*").over(Window.partitionBy("user_id"))
        )
        .filter((F.col("rn") == 1) & (F.col("event_type") != "view"))
        .select(
            "user_id",
            F.round("value", 2).alias("last_value"),
            F.col("ts").alias("updated_at"),
            F.col("n_ops").cast("long").alias("n_ops"),
        )
        .transform(order_result, "user_id")
    )


ORACLE_CDC_APPLY = """
WITH ranked AS (
  SELECT user_id, event_type, value, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_ops
  FROM events
)
SELECT user_id,
       round(value, 2) AS last_value,
       ts AS updated_at,
       CAST(n_ops AS BIGINT) AS n_ops
FROM ranked
WHERE rn = 1 AND event_type <> 'view'
ORDER BY user_id
"""

QUERIES["cdc_apply"] = q_cdc_apply
ORACLE["cdc_apply"] = ORACLE_CDC_APPLY


# --------------------------------------------------------------------------
# join_pit_scd2 — point-in-time (as-of) join against the SCD2 dimension
# --------------------------------------------------------------------------


def q_join_pit_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness join — the feature-store / ML-training
    pattern that motivates keeping SCD2 history at all: each fact (click)
    joins the dimension VERSION that was active at the fact's own
    timestamp, never a later one (no feature leakage). Dimension versions
    come from the purchase changelog exactly as ``scd2_history`` builds
    them; a click matches the unique version with
    ``valid_from <= ts < valid_to`` (open-ended current version matches
    everything after its start).

    Scale shape: both sides shuffle ONCE on user_id and the interval
    predicate rides the keyed join as a residual filter — per-user version
    chains are short, so the within-key scan is bounded and there is no
    range-join blowup and no cartesian. (For adversarial per-key version
    counts, the union + last-non-null-window as-of form of ``join_asof``
    is the fallback — same results, one window instead of a join.)"""
    ev = load_table(spark, sf_dir, "events")
    ver = _purchase_versions(ev)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    v = ver.alias("v")
    c = clicks.alias("c")
    return (
        c.join(
            v,
            (F.col("c.user_id") == F.col("v.user_id"))
            & (F.col("v.ts") <= F.col("c.click_ts"))
            & (
                F.col("v.valid_to").isNull()
                | (F.col("c.click_ts") < F.col("v.valid_to"))
            ),
        )
        .select(
            F.col("c.click_id"),
            F.col("c.user_id").alias("user_id"),
            F.col("c.click_ts"),
            F.col("v.event_id").alias("version_id"),
            F.col("v.value").alias("value_asof"),
        )
        .transform(order_result, "user_id", "click_ts", "click_id")
    )


ORACLE_JOIN_PIT_SCD2 = """
WITH ver AS (
  SELECT user_id, event_id, ts, round(value, 2) AS value,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
)
SELECT c.click_id, c.user_id AS user_id, c.click_ts,
       v.event_id AS version_id, v.value AS value_asof
FROM clicks c JOIN ver v
  ON v.user_id = c.user_id
 AND v.ts <= c.click_ts
 AND (v.valid_to IS NULL OR c.click_ts < v.valid_to)
ORDER BY c.user_id, c.click_ts, c.click_id
"""

QUERIES["join_pit_scd2"] = q_join_pit_scd2
ORACLE["join_pit_scd2"] = ORACLE_JOIN_PIT_SCD2


# --------------------------------------------------------------------------
# cdc_diff_snapshots — changelog GENERATION from two table snapshots
# --------------------------------------------------------------------------


def q_cdc_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: derive the CDC changelog FROM two keyed snapshots —
    the inverse of ``cdc_apply`` (which materializes a snapshot from a
    changelog) and the standard backfill path when a source system offers
    only periodic dumps, no log (Delta CDF backfill / DMS full-load
    compare).

    Snapshots are carved deterministically from ``orders``:
    snapshot A keeps keys with ``o_orderkey % 7 != 0``; snapshot B keeps
    ``% 5 != 0`` and re-prices keys divisible by 3 (a 10% uplift) — so the
    diff contains all three op kinds. One FULL OUTER sort-merge join on
    the key classifies every row: I (B only), D (A only), U (both,
    value changed); unchanged rows vanish. Result ships as one audit row
    per op kind (count + key-range + value-delta checksums), proving the
    whole diff was computed without shipping the diff itself.

    Scale shape: the single full-outer join on the snapshot key IS the
    operator — both sides shuffle once on the key (or co-located bucketed
    snapshots skip even that, operators/bucketing.py); the op
    classification is a map-side CASE, and the audit aggregate is a
    3-group partial agg. No window, no second pass over either snapshot."""
    # integer-cents end to end: decimal re-rounding of uplifted doubles
    # (round(x*1.1, 2)) sits on .005 boundaries that Spark (BigDecimal
    # HALF_UP) and DuckDB (scale-multiply) break differently — the uplift
    # is instead exact integer arithmetic (cents * 11 div 10)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    snap_a = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("cents").alias("val_a")
    )
    snap_b = o.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.expr("cents * 11 div 10"),
        )
        .otherwise(F.col("cents"))
        .cast("long")
        .alias("val_b"),
    )
    diff = (
        snap_a.join(snap_b, "k", "full_outer")
        .withColumn(
            "op",
            F.when(F.col("val_a").isNull(), F.lit("I"))
            .when(F.col("val_b").isNull(), F.lit("D"))
            .when(F.col("val_a") != F.col("val_b"), F.lit("U")),
        )
        .filter(F.col("op").isNotNull())
    )
    return (
        diff.groupBy("op")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
            (
                F.sum(F.coalesce("val_b", F.lit(0)))
                - F.sum(F.coalesce("val_a", F.lit(0)))
            ).cast("long").alias("delta_cents"),
        )
        .transform(order_result, "op")
    )


ORACLE_CDC_DIFF = """
WITH cents AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), snap_a AS (
  SELECT o_orderkey AS k, cents AS val_a
  FROM cents WHERE o_orderkey % 7 <> 0
), snap_b AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 3 = 0 THEN cents * 11 // 10
              ELSE cents END AS val_b
  FROM cents WHERE o_orderkey % 5 <> 0
), diff AS (
  SELECT COALESCE(a.k, b.k) AS k, val_a, val_b,
         CASE WHEN val_a IS NULL THEN 'I'
              WHEN val_b IS NULL THEN 'D'
              WHEN val_a <> val_b THEN 'U' END AS op
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
)
SELECT op,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(k) AS min_key,
       max(k) AS max_key,
       CAST(sum(COALESCE(val_b, 0)) - sum(COALESCE(val_a, 0)) AS BIGINT)
         AS delta_cents
FROM diff WHERE op IS NOT NULL
GROUP BY op ORDER BY op
"""

QUERIES["cdc_diff_snapshots"] = q_cdc_diff_snapshots
ORACLE["cdc_diff_snapshots"] = ORACLE_CDC_DIFF


# --------------------------------------------------------------------------
# scd2_upsert — INCREMENTAL SCD2 maintenance (dbt-snapshot semantics)
# --------------------------------------------------------------------------

_SCD2_CUTOFF = "2024-01-24 00:00:00"


def q_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance — the dbt-snapshot / MERGE-into-dim
    pattern that ``scd2_history`` (full rebuild) is too expensive for at
    100 TB: given the EXISTING SCD2 dimension (purchase versions before
    the cutoff) and an INCOMING batch (purchases at/after the cutoff,
    compacted last-writer-wins per user), close out each touched user's
    current version (``valid_to`` = the new version's ts) and append the
    new current version. Untouched users pass through unchanged.

    Scale shape: every stage keys on user_id — the history window, the
    batch compaction window, and the close-out LEFT join all share one
    partitioning, so the whole maintenance pass is one logical shuffle
    key end-to-end (co-partitioned under AQE; bucketed dims skip even
    that). The incoming batch is compacted BEFORE it touches the
    dimension — the standard trick that turns an hours-of-changelog apply
    into one row per touched key."""
    ev = load_table(spark, sf_dir, "events")
    pur = _purchases(ev)
    cutoff = F.lit(_SCD2_CUTOFF).cast("timestamp")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = (
        pur.filter(F.col("ts") < cutoff)
        .withColumn("valid_to", F.lead("ts").over(w))
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    batch = (
        pur.filter(F.col("ts") >= cutoff)
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("new_eid"),
            F.col("ts").alias("new_ts"),
            F.col("value").alias("new_value"),
        )
    )
    closed = hist.join(batch, "user_id", "left").select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        # only the OPEN version of a touched user gets closed out
        F.coalesce("valid_to", "new_ts").alias("valid_to"),
        "value",
    )
    newrows = batch.select(
        "user_id",
        F.col("new_eid").alias("event_id"),
        F.col("new_ts").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.col("new_value").alias("value"),
    )
    return (
        closed.unionByName(newrows)
        .withColumn(
            "is_current", F.col("valid_to").isNull().cast("long")
        )
        .transform(order_result, "user_id", "valid_from", "event_id")
    )


ORACLE_SCD2_UPSERT = f"""
WITH pur AS (
  SELECT user_id, event_id, ts, round(value, 2) AS value
  FROM events WHERE event_type = 'purchase'
), hist AS (
  SELECT user_id, event_id, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to,
         value
  FROM pur WHERE ts < TIMESTAMP '{_SCD2_CUTOFF}'
), batch AS (
  SELECT user_id, event_id AS new_eid, ts AS new_ts, value AS new_value
  FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM pur WHERE ts >= TIMESTAMP '{_SCD2_CUTOFF}'
  ) WHERE rn = 1
), closed AS (
  SELECT h.user_id, h.event_id, h.ts AS valid_from,
         COALESCE(h.valid_to, b.new_ts) AS valid_to, h.value
  FROM hist h LEFT JOIN batch b USING (user_id)
), merged AS (
  SELECT * FROM closed
  UNION ALL
  SELECT user_id, new_eid AS event_id, new_ts AS valid_from,
         NULL AS valid_to, new_value AS value
  FROM batch
)
SELECT user_id, event_id, valid_from, valid_to, value,
       CAST(valid_to IS NULL AS BIGINT) AS is_current
FROM merged ORDER BY user_id, valid_from, event_id
"""

QUERIES["scd2_upsert"] = q_scd2_upsert
ORACLE["scd2_upsert"] = ORACLE_SCD2_UPSERT


# --------------------------------------------------------------------------
# skyline_orders — Pareto frontier (skyline operator)
# --------------------------------------------------------------------------


def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier operator (Börzsönyi et al., "The Skyline
    Operator", ICDE 2001): the orders that are not dominated in
    (minimize o_totalprice, maximize o_orderdate) — i.e. no other order
    is at-most-as-expensive AND at-least-as-recent with one strict.
    Duplicates on both dimensions keep only the first by key
    (distinct-skyline semantics; pinned by the shared total order).

    Spark-first distributed shape — the canonical two-phase skyline:
    dominance within ANY subset implies dominance globally, so phase 1
    computes a LOCAL skyline per hash bucket (64 even buckets, window
    ordered by price asc, date desc with a running best-date over
    preceding rows) and phase 2 repeats the same window globally over
    the survivors only. Random-ish data leaves O(log n)-sized local
    frontiers, so the global pass sorts a table ~64 log n rows, never
    the fact table — the one-global-window naive plan would serialize
    the corpus into a single sort partition."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.to_date("o_orderdate").alias("odate"),
    )

    def survivors(df: DataFrame, part_cols: list) -> DataFrame:
        w = (
            Window.partitionBy(*part_cols)
            .orderBy(
                F.col("price").asc(),
                F.col("odate").desc(),
                F.col("o_orderkey").asc(),
            )
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            df.withColumn("best_prev", F.max("odate").over(w))
            .filter(
                F.col("best_prev").isNull()
                | (F.col("odate") > F.col("best_prev"))
            )
            .drop("best_prev")
        )

    local = survivors(
        o.withColumn("b", F.pmod(F.hash("o_orderkey"), F.lit(64))), ["b"]
    ).drop("b")
    return survivors(local, []).orderBy("price", "o_orderkey")


ORACLE_SKYLINE = """
WITH o AS (
  SELECT o_orderkey, round(o_totalprice, 2) AS price,
         CAST(o_orderdate AS DATE) AS odate
  FROM orders
), marked AS (
  SELECT o_orderkey, price, odate,
         max(odate) OVER (
           ORDER BY price ASC, odate DESC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS best_prev
  FROM o
)
SELECT o_orderkey, price, odate
FROM marked
WHERE best_prev IS NULL OR odate > best_prev
ORDER BY price, o_orderkey
"""

QUERIES["skyline_orders"] = q_skyline_orders
ORACLE["skyline_orders"] = ORACLE_SKYLINE


# --------------------------------------------------------------------------
# layout_zorder_stats — z-order vs linear layout pruning audit (round 8)
# --------------------------------------------------------------------------

# bit-interleave via engine-portable integer arithmetic (floor-div + mod —
# Spark's `div` and DuckDB's `//` spell integer division differently, this
# text runs verbatim on both)
_Z_BITS = 8
_Z_FILE_CELLS = 1024  # z-cells per file -> 64 files over the 16-bit space
_Z_RECT = (64, 191, 32, 95)  # d1_lo, d1_hi, d2_lo, d2_hi


def _interleave_sql(a: str, b: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(
            f"(CAST(floor({a} / {1 << i}) AS BIGINT) % 2) * {1 << (2 * i + 1)}"
        )
        terms.append(
            f"(CAST(floor({b} / {1 << i}) AS BIGINT) % 2) * {1 << (2 * i)}"
        )
    return " + ".join(terms)


def q_layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs single-key layout pruning audit — the SELECT-side proof
    of why multi-dimensional clustering (Delta/Iceberg ``ZORDER BY``,
    Hudi space-filling curves) matters at 100 TB: assign every event to a
    64-file layout twice — once by Morton/z-key ranges over
    (user-bucket, value-bucket), once by the row-major single-key order
    (user-bucket major) — and report, for one 2-D rectangle predicate,
    how many files each layout's per-file min/max zone maps would scan
    and how many scanned rows actually match.

    1024 consecutive z-cells form an ALIGNED 32x32 TILE in dimension
    space, so the rectangle touches ~(span1/32)·(span2/32) z-files but
    span1/4 linear files (a linear file spans 4 full d1 values and ALL
    of d2 — its d2 zone map is always [0,255] and prunes nothing). The
    audit computes both from the same zone-map statistics a real
    writer's footer would carry.

    Spark-first: the z-key is a pure-integer bit interleave (floor-div +
    mod, whole-stage codegen — the identical expression text runs in the
    oracle); each row emits its two (layout, file) assignments through
    one inline-table explode, so ONE corpus scan feeds a 128-key partial
    aggregation (the per-file zone maps) and a 2-row rollup. No joins,
    no windows, no global sort — at any corpus size the shuffle carries
    128 zone-map rows."""
    d1_lo, d1_hi, d2_lo, d2_hi = _Z_RECT
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("user_id % 256").cast("long").alias("d1"),
        F.expr("least(255, CAST(floor(value / 2.0) AS BIGINT))").alias("d2"),
    )
    keyed = ev.select(
        "d1",
        "d2",
        F.expr(_interleave_sql("d1", "d2")).alias("z"),
        (F.col("d1") * 256 + F.col("d2")).alias("lin"),
        (
            F.col("d1").between(d1_lo, d1_hi)
            & F.col("d2").between(d2_lo, d2_hi)
        ).cast("long").alias("hit"),
    )
    tagged = keyed.select(
        "d1",
        "d2",
        "hit",
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.floor(F.col("z") / _Z_FILE_CELLS).cast("long").alias(
                        "file_id"
                    ),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.floor(F.col("lin") / _Z_FILE_CELLS).cast("long").alias(
                        "file_id"
                    ),
                ),
            )
        ).alias("a"),
    ).select("d1", "d2", "hit", F.col("a.layout"), F.col("a.file_id"))
    zones = tagged.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("d1").alias("min1"),
        F.max("d1").alias("max1"),
        F.min("d2").alias("min2"),
        F.max("d2").alias("max2"),
        F.sum("hit").alias("nhit"),
    )
    scanned = (
        (F.col("max1") >= d1_lo)
        & (F.col("min1") <= d1_hi)
        & (F.col("max2") >= d2_lo)
        & (F.col("min2") <= d2_hi)
    ).cast("long")
    return (
        zones.withColumn("sc", scanned)
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("sc").cast("long").alias("n_files_scanned"),
            F.sum(F.col("sc") * F.col("n")).cast("long").alias(
                "n_rows_scanned"
            ),
            F.sum("nhit").cast("long").alias("n_rows_matched"),
            F.round(
                F.sum(F.col("sc") * F.col("n")).cast("double")
                / F.sum("n").cast("double"),
                6,
            ).alias("scan_fraction"),
        )
        .transform(order_result, "layout")
    )


def _oracle_zorder() -> str:
    d1_lo, d1_hi, d2_lo, d2_hi = _Z_RECT
    return f"""
WITH ev AS (
  SELECT CAST(user_id % 256 AS BIGINT) AS d1,
         least(255, CAST(floor(value / 2.0) AS BIGINT)) AS d2
  FROM events
), keyed AS (
  SELECT d1, d2,
         {_interleave_sql("d1", "d2")} AS z,
         d1 * 256 + d2 AS lin,
         CASE WHEN d1 BETWEEN {d1_lo} AND {d1_hi}
               AND d2 BETWEEN {d2_lo} AND {d2_hi}
              THEN 1 ELSE 0 END AS hit
  FROM ev
), tagged AS (
  SELECT d1, d2, hit, 'zorder' AS layout,
         CAST(floor(z / {_Z_FILE_CELLS}) AS BIGINT) AS file_id
  FROM keyed
  UNION ALL
  SELECT d1, d2, hit, 'linear',
         CAST(floor(lin / {_Z_FILE_CELLS}) AS BIGINT)
  FROM keyed
), zones AS (
  SELECT layout, file_id, count(*) AS n,
         min(d1) AS min1, max(d1) AS max1,
         min(d2) AS min2, max(d2) AS max2,
         CAST(sum(hit) AS BIGINT) AS nhit
  FROM tagged GROUP BY 1, 2
), flagged AS (
  SELECT *, CASE WHEN max1 >= {d1_lo} AND min1 <= {d1_hi}
                  AND max2 >= {d2_lo} AND min2 <= {d2_hi}
                 THEN 1 ELSE 0 END AS sc
  FROM zones
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(sc) AS BIGINT) AS n_files_scanned,
       CAST(sum(sc * n) AS BIGINT) AS n_rows_scanned,
       CAST(sum(nhit) AS BIGINT) AS n_rows_matched,
       round(CAST(sum(sc * n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
         AS scan_fraction
FROM flagged GROUP BY layout ORDER BY layout
"""


QUERIES["layout_zorder_stats"] = q_layout_zorder_stats
ORACLE["layout_zorder_stats"] = _oracle_zorder()
