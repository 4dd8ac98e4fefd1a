"""Event-time windows, sessionization, JSON props, dedup — batch + streaming.

SURVEY.md §2.I: the reference is pure batch, so these are the engine's
extension surface. Batch forms use the same ``F.window`` / ``session_window``
functions Structured Streaming uses, which is exactly how the DuckDB oracle
can check them; ``events_tumbling_stream`` additionally runs the REAL
streaming path (readStream → watermark → windowed agg → memory sink) and must
produce the identical result.

Scale notes: windowed aggregation shuffles on (window, key) — bounded
cardinality; sessionization shuffles on user_id (the natural partition key at
100 TB); streaming state is keyed the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.io import load_table, order_result


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event_type: count + sum(value)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .transform(order_result, "window_start", "event_type")
    )


ORACLE_EVENTS_TUMBLING = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event lands in 2
    windows). The oracle expands the membership with two shifted tumbling
    buckets — the relational definition of a sliding window."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .transform(order_result, "window_start")
    )


ORACLE_EVENTS_SLIDING = """
WITH member AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', value FROM events
)
SELECT window_start, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM member GROUP BY 1 ORDER BY window_start
"""


def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 30-minute gap (SURVEY §2.I:
    ``F.session_window``). Session end = last event + gap, matching Spark's
    definition; the oracle derives sessions via gaps-and-islands."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .transform(order_result, "user_id", "session_start")
    )


ORACLE_EVENTS_SESSION = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON map extraction from the ``props`` string column (SURVEY §2 F12
    extension: data-plane JSON via get_json_object / from_json)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            # plain cast: ANSI is pinned off by load_table, where cast is
            # null-on-failure WITHOUT the per-failing-row JVM exception
            # try_cast's TryEval pays (see q_cast_nullsafe docstring)
            "k", F.get_json_object("props", "$.k").cast("long")
        )
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .transform(order_result, "event_type")
    )


ORACLE_EVENTS_JSON_PROPS = """
WITH x AS (
  SELECT event_type, TRY_CAST(json_extract_string(props, 'k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, count(k) AS n_with_k,
       round(avg(k), 4) AS avg_k, max(k) AS max_k
FROM x GROUP BY event_type ORDER BY event_type
"""


def q_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup: first event per (user_id, event_type) by (ts,
    event_id) — the batch analog of streaming
    ``dropDuplicatesWithinWatermark`` (SURVEY §2.I), made order-stable via
    row_number instead of Spark's arbitrary dropDuplicates."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
        .transform(order_result, "user_id", "event_type")
    )


ORACLE_EVENTS_DEDUP = """
WITH ranked AS (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
)
SELECT user_id, event_type, event_id, ts
FROM ranked WHERE rn = 1 ORDER BY user_id, event_type
"""


def q_events_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Structured Streaming path: readStream over the events parquet,
    event-time watermark, 10-minute tumbling windowed aggregation, available-now
    trigger into a memory sink — then return the sink table. Must equal the
    batch tumbling oracle exactly (same F.window semantics, SURVEY §2.I).
    """
    from jp_qcew_spark.streaming.pipelines import (
        read_events_stream,
        run_to_memory,
    )

    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return (
        run_to_memory(stream, "complete", "events_tumbling_stream_sink")
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .transform(order_result, "window_start", "event_type")
    )


def q_events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full JSON-map data plane (SURVEY §2 F12 extension): props parsed with
    ``from_json`` into a MapType, keys exploded, per-key frequency + value
    stats. The parse happens once per row in the scan projection; the only
    shuffle is the per-key rollup."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        ev.filter(F.col("props").isNotNull())
        .select(F.explode(F.map_keys(m)).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
        .orderBy("k")
    )


ORACLE_EVENTS_PROPS_MAP = """
WITH keys AS (
  SELECT unnest(json_keys(props)) AS k FROM events WHERE props IS NOT NULL
)
SELECT k, count(*) AS n FROM keys GROUP BY k ORDER BY k
"""


QUERIES = {
    "events_props_map": q_events_props_map,
    "events_tumbling": q_events_tumbling,
    "events_sliding": q_events_sliding,
    "events_session": q_events_session,
    "events_json_props": q_events_json_props,
    "events_dedup": q_events_dedup,
    "events_tumbling_stream": q_events_tumbling_stream,
}

ORACLE = {
    "events_props_map": ORACLE_EVENTS_PROPS_MAP,
    "events_tumbling": ORACLE_EVENTS_TUMBLING,
    "events_sliding": ORACLE_EVENTS_SLIDING,
    "events_session": ORACLE_EVENTS_SESSION,
    "events_json_props": ORACLE_EVENTS_JSON_PROPS,
    "events_dedup": ORACLE_EVENTS_DEDUP,
    "events_tumbling_stream": ORACLE_EVENTS_TUMBLING,
}


def q_events_rollup_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate pattern (the hypertable-rollup shape): maintain
    a FINE-grain rollup (10-min tumbling per event_type — what a streaming
    job would upsert continuously), answer COARSE-grain questions (hourly)
    by re-aggregating the rollup, never rescanning base events. Works
    because count/sum are algebraic (merge losslessly); avg derives at the
    end from merged sum/count (not emitted: a 2-decimal-data sum divided by
    small counts lands exactly on round-half boundaries, where the rollup's
    different float addition order legitimately flips the last digit). The
    oracle computes the hourly answer DIRECTLY from base events, so the
    hash match proves rollup-re-aggregation ≡ direct aggregation.

    At 100 TB the fine rollup is ~10^4-10^6 rows/day vs 10^10 raw events —
    re-aggregation touches the small table only; both aggs shuffle on
    bounded (bucket, type) keys."""
    ev = load_table(spark, sf_dir, "events")
    fine = ev.groupBy(
        F.window("ts", "10 minutes").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sv"),  # unrounded: rollups store exact states
    )
    return (
        fine.groupBy(
            F.date_trunc("hour", F.col("w.start")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("sv"), 2).alias("sum_value"),
        )
        .transform(order_result, "hour_start", "event_type")
    )


ORACLE_EVENTS_ROLLUP_REAGG = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2 ORDER BY hour_start, event_type
"""

QUERIES["events_rollup_reagg"] = q_events_rollup_reagg
ORACLE["events_rollup_reagg"] = ORACLE_EVENTS_ROLLUP_REAGG


# --------------------------------------------------------------------------
# events_variant — VARIANT-typed semi-structured JSON (Spark 4)
# --------------------------------------------------------------------------


def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON via the Spark 4 VARIANT type: ``parse_json`` once
    into a binary variant, then typed path extraction (``variant_get``) —
    the modern replacement for per-path ``get_json_object`` re-parsing (each
    call re-tokenizes the JSON; variant parses once and shreds).  Pure
    JVM-side expressions, whole-stage codegen, one aggregation shuffle on
    the derived bucket — identical scale shape to events_json_props.

    Reference has JSON only as config (SURVEY §2.H F12); this is the
    extension-tier data-plane path on the events table.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select(k.alias("k"), "value")
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .transform(order_result, "k_bucket")
    )


ORACLE_EVENTS_VARIANT = """
SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1 ORDER BY k_bucket
"""

QUERIES["events_variant"] = q_events_variant
ORACLE["events_variant"] = ORACLE_EVENTS_VARIANT


# --------------------------------------------------------------------------
# events_session_gaps — gaps-and-islands sessionization (scale-path twin)
# --------------------------------------------------------------------------


def q_events_session_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization by gaps-and-islands windows — the alternative physical
    strategy to ``F.session_window`` (q_events_session): flag session starts
    with ``lag``, number sessions with a running sum, aggregate per
    (user, session_id). Output is identical (session end = last event +
    gap), and the oracle is shared verbatim.

    Scale trade-off vs session_window: both shuffle once on user_id and
    sort within partitions; session_window then merges through a dedicated
    state-merge iterator while this form is two plain window passes over
    the same sort order. Measured head-to-head (sf0.1 and the 10× sf1
    corpus) they land within ~3% — the per-user sort dominates, not the
    merge — so the twins exist as interchangeable strategies: session_window
    is the streaming-unified form, gaps-and-islands the portable one (it is
    also exactly what the shared oracle runs).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Exact-timestamp gap test (microsecond-preserving): a long-second cast
    # would truncate a 1800.7s gap to 1800 and miss a split the oracle's
    # `ts - lag(ts) > INTERVAL 30 MINUTE` makes. Compare timestamps directly.
    prev_ts = F.lag("ts").over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            prev_ts.isNull()
            | (F.col("ts") > prev_ts + F.expr("INTERVAL 30 MINUTES")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias(
                "session_end"
            ),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .drop("session_id")
        .transform(order_result, "user_id", "session_start")
    )


QUERIES["events_session_gaps"] = q_events_session_gaps
ORACLE["events_session_gaps"] = ORACLE_EVENTS_SESSION


def q_events_cep_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match — the batch form of
    MATCH_RECOGNIZE / FlinkCEP's ``A next B within T``: a 'click'
    IMMEDIATELY followed (next event of the same user in event-time
    order) by a 'purchase' no more than 30 minutes later. Adjacency
    ("next", not "eventually") is what separates CEP from the funnel
    query: an intervening event of any type breaks the pattern.

    Spark-first strategy: one ``lead`` window per user over (ts,
    event_id) — no self-join, no range explosion; the pattern predicate
    is a map-side filter over the windowed stream, and the per-user
    rollup reuses the window's partitioning (user_id prefix), so the
    whole query is ONE shuffle on the high-cardinality user key plus the
    presentation sort. The event_id tiebreak makes "next" deterministic
    under equal timestamps — same discipline as the sessionization and
    CDC twins.

    Scale: windows over user_id distribute evenly (millions of users);
    at 100 TB this is the standard per-key sorted pass — state is one
    event of lookahead, the streaming equivalent being
    applyInPandasWithState with a 1-event buffer."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .withColumn("next_ts", F.lead("ts").over(w))
        .withColumn("next_value", F.lead("value").over(w))
    )
    matched = nxt.filter(
        (F.col("event_type") == "click")
        & (F.col("next_type") == "purchase")
        & (F.col("next_ts") <= F.col("ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return (
        matched.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_matches"),
            F.min("ts").alias("first_match_ts"),
            F.round(F.sum("next_value"), 2).alias("matched_value"),
        )
        .transform(order_result, "user_id")
    )


ORACLE_EVENTS_CEP = """
WITH nxt AS (
  SELECT user_id, ts, event_type, value,
         lead(event_type) OVER w AS next_type,
         lead(ts) OVER w AS next_ts,
         lead(value) OVER w AS next_value
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), matched AS (
  SELECT * FROM nxt
  WHERE event_type = 'click' AND next_type = 'purchase'
    AND next_ts <= ts + INTERVAL 30 MINUTE
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       min(ts) AS first_match_ts,
       round(sum(next_value), 2) AS matched_value
FROM matched GROUP BY user_id ORDER BY user_id
"""

QUERIES["events_cep_sequence"] = q_events_cep_sequence
ORACLE["events_cep_sequence"] = ORACLE_EVENTS_CEP


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — the marketing-analytics companion to the
    CEP query: every purchase is attributed to the user's most recent
    'click' at-or-before it (any intervening views don't break it, unlike
    CEP adjacency), provided the click is within a 7-day lookback.

    Spark-first trick: no as-of join, no self-join — the "most recent
    click so far" is a RUNNING MAX of click timestamps over the per-user
    event-time window (``max(CASE WHEN click THEN ts END) OVER (... ROWS
    UNBOUNDED PRECEDING)``), which both engines define identically, then
    purchases filter map-side. One shuffle on the high-cardinality user
    key; the rollup reuses its partitioning.

    Scale: the unbounded-preceding running max is streaming-friendly
    state (one timestamp per user) — the batch twin of a 1-value
    stateful stream, same shape family as stream_cep_sequence."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    attributed = (
        ev.withColumn("last_click_ts", last_click)
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click_ts").isNotNull()
            & (
                F.col("ts")
                <= F.col("last_click_ts") + F.expr("INTERVAL 7 DAYS")
            )
        )
    )
    return (
        attributed.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_attributed"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
            F.max("last_click_ts").alias("last_click_ts"),
        )
        .transform(order_result, "user_id")
    )


ORACLE_EVENTS_ATTRIBUTION = """
WITH marked AS (
  SELECT user_id, ts, event_type, value,
         max(CASE WHEN event_type = 'click' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS last_click_ts
  FROM events
), attributed AS (
  SELECT * FROM marked
  WHERE event_type = 'purchase' AND last_click_ts IS NOT NULL
    AND ts <= last_click_ts + INTERVAL 7 DAY
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_attributed,
       round(sum(value), 2) AS attributed_value,
       max(last_click_ts) AS last_click_ts
FROM attributed GROUP BY user_id ORDER BY user_id
"""

QUERIES["events_attribution"] = q_events_attribution
ORACLE["events_attribution"] = ORACLE_EVENTS_ATTRIBUTION


def q_ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day EXACT median of daily revenue per event type — the
    robust-trend smoother the ts tier lacked (moving_avg is mean-based
    and outlier-sensitive; the median window is the standard anomaly-
    tolerant baseline for alerting on heavy-tailed daily metrics).

    Spark expresses it as the exact ``percentile`` AGGREGATE over a ROWS
    window frame (7-row trailing), which interpolates the even-count
    midpoint exactly like DuckDB's windowed ``median`` — hash-matched,
    not banded. Two chained shuffles: the daily partial-agg (event_type,
    date) and the per-type window — and the window input is one row per
    (type, day), so the sort is over days, not events: at 100 TB the
    heavy reduction happens in the partial agg, the median frame only
    ever sees the tiny daily series."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("daily_value"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    return (
        daily.withColumn(
            "med7", F.expr("percentile(daily_value, 0.5)").over(w)
        )
        .select("event_type", "d", "daily_value", F.round("med7", 4).alias("med7"))
        .transform(order_result, "event_type", "d")
    )


ORACLE_TS_ROLLING_MEDIAN = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         round(sum(value), 2) AS daily_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, d, daily_value,
       round(median(daily_value) OVER (
         PARTITION BY event_type ORDER BY d
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
       ), 4) AS med7
FROM daily ORDER BY event_type, d
"""

QUERIES["ts_rolling_median"] = q_ts_rolling_median
ORACLE["ts_rolling_median"] = ORACLE_TS_ROLLING_MEDIAN


# --------------------------------------------------------------------------
# events_markov_transitions — first-order behavior model (round 7)
# --------------------------------------------------------------------------


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams —
    the sequence-model summary a behavioral pipeline feeds into next-event
    prediction / anomaly scoring: P(dst | src) estimated from adjacent
    event pairs in event-time order.

    Spark-first: adjacency is the SAME one-``lead``-window pass as the CEP
    query (user_id partition, (ts, event_id) deterministic order — never a
    self-join), then the transition rollup groups the (src, dst) pairs and
    row-normalizes with a window sum over src. Two shuffles end-to-end:
    the user-keyed window pass, then the (src, dst) reduction whose output
    is at most |event_type|² rows — at 100 TB the second shuffle carries a
    25-row matrix per partial aggregate. ``p`` is the row-normalized
    maximum-likelihood estimate; ``n_src`` makes the support auditable."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("dst", F.lead("event_type").over(w))
        .filter(F.col("dst").isNotNull())
        .select(F.col("event_type").alias("src"), "dst")
    )
    counts = pairs.groupBy("src", "dst").agg(F.count("*").alias("n"))
    wsrc = Window.partitionBy("src")
    return (
        counts.withColumn("n_src", F.sum("n").over(wsrc))
        .select(
            "src",
            "dst",
            F.col("n").cast("long").alias("n"),
            F.col("n_src").cast("long").alias("n_src"),
            F.round(F.col("n") / F.col("n_src"), 6).alias("p"),
        )
        .transform(order_result, "src", "dst")
    )


ORACLE_EVENTS_MARKOV = """
WITH nxt AS (
  SELECT event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS dst
  FROM events
), pairs AS (
  SELECT src, dst FROM nxt WHERE dst IS NOT NULL
), counts AS (
  SELECT src, dst, count(*) AS n FROM pairs GROUP BY 1, 2
)
SELECT src, dst,
       CAST(n AS BIGINT) AS n,
       CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS n_src,
       round(n * 1.0 / sum(n) OVER (PARTITION BY src), 6) AS p
FROM counts ORDER BY src, dst
"""

QUERIES["events_markov_transitions"] = q_events_markov_transitions
ORACLE["events_markov_transitions"] = ORACLE_EVENTS_MARKOV


# --------------------------------------------------------------------------
# ts_seasonal_dow — classical decomposition, integer-exact (round 7)
# --------------------------------------------------------------------------


def q_ts_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily event-count series —
    trend = centered 7-observation moving window, seasonal = day-of-week
    mean of the detrended series (the decompose step behind weekly-
    seasonality anomaly baselines; STL's additive little sibling).

    Arithmetic is INTEGER-EXACT until one final division — the
    ``sketch_countmin_topk`` discipline applied to decomposition: instead
    of ``v − avg7(v)`` (a float whose cross-partition summation order
    could wobble), the detrended value is ``det7 = 7·v − sum7(v)``, an
    exact BIGINT, and the seasonal index divides ONCE at the end:
    ``seasonal = Σdet7 / (7·n_days)``. Day-of-week is the portable
    epoch-day arithmetic ``(d − 1970-01-05) mod 7`` (0 = Monday) — never
    the engines' 0-vs-1-based ``dayofweek`` builtins. Rows with an
    incomplete centered window are dropped (count over the same frame
    = 7), so edges never bias the seasonal means.

    Scale: the heavy reduction is the daily partial agg; the window and
    the (type, dow) rollup see one row per (type, day) — at 100 TB the
    trend pass sorts days, not events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    det = (
        daily.select(
            "event_type",
            "d",
            "n",
            F.sum("n").over(w).alias("sum7"),
            F.count("n").over(w).alias("c7"),
        )
        .filter(F.col("c7") == 7)
        .select(
            "event_type",
            (7 * F.col("n") - F.col("sum7")).alias("det7"),
            F.pmod(
                F.datediff("d", F.lit("1970-01-05").cast("date")), F.lit(7)
            ).cast("long").alias("dow"),
        )
    )
    return (
        det.groupBy("event_type", "dow")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("det7").cast("long").alias("det7_sum"),
        )
        .select(
            "event_type",
            "dow",
            "n_days",
            "det7_sum",
            F.round(
                F.col("det7_sum") / (7.0 * F.col("n_days")), 4
            ).alias("seasonal"),
        )
        .transform(order_result, "event_type", "dow")
    )


ORACLE_TS_SEASONAL_DOW = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
  FROM events GROUP BY 1, 2
), win AS (
  SELECT event_type, d, n,
         sum(n) OVER (
           PARTITION BY event_type ORDER BY d
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
         ) AS sum7,
         count(n) OVER (
           PARTITION BY event_type ORDER BY d
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
         ) AS c7
  FROM daily
), det AS (
  SELECT event_type,
         7 * n - sum7 AS det7,
         CAST(((d - DATE '1970-01-05') % 7 + 7) % 7 AS BIGINT) AS dow
  FROM win WHERE c7 = 7
)
SELECT event_type, dow,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(det7) AS BIGINT) AS det7_sum,
       round(CAST(sum(det7) AS BIGINT) / (7.0 * count(*)), 4) AS seasonal
FROM det GROUP BY 1, 2 ORDER BY event_type, dow
"""

QUERIES["ts_seasonal_dow"] = q_ts_seasonal_dow
ORACLE["ts_seasonal_dow"] = ORACLE_TS_SEASONAL_DOW
