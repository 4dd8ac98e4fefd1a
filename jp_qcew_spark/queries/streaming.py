"""Structured Streaming queries (SURVEY.md §2.I, extension tier B).

Each entry runs a REAL streaming pipeline (readStream → watermark → stateful
operator → memory sink, drained by ``run_to_memory``) and returns the drained
sink. Oracles check the batch-equivalent semantics in DuckDB: session windows
and key-set dedup are deterministic; the custom-stateful per-user stats reduce
to a plain group-by after the drain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jp_qcew_spark.io import load_table, order_result
from jp_qcew_spark.queries.curation import _HEAD_FP_SQL, _QC_ITERS, _qc_sql_chain
from jp_qcew_spark.queries.dedup import _MH_CTES
from jp_qcew_spark.queries.events import (
    ORACLE_EVENTS_CEP,
    ORACLE_EVENTS_SESSION,
    ORACLE_EVENTS_SLIDING,
)
from jp_qcew_spark.queries.sketches import (
    _cms_probes,
    _cms_topk,
    _cms_topk_sql,
    _hist_readout_sql,
    hist_quantile_readout,
)
from jp_qcew_spark.queries.warehouse import ORACLE_CDC_APPLY
from jp_qcew_spark.sources.stream_replay import EventReplayShardedDataSource
from jp_qcew_spark.streaming.pipelines import (
    read_events_stream,
    replay_stream,
    run_to_memory,
    stream_cdc_apply,
    stream_cep_sequence,
    stream_dedup_incremental,
    stream_dedup_keys,
    stream_dedup_neardup,
    stream_quality_gate,
    stream_session_windows,
    stream_stateful_user_stats,
    stream_static_enrich,
    stream_stream_attribution,
    stream_tws_user_extremes,
    tws_available,
)


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_session_windows(spark, sf_dir).transform(
        order_result, "user_id", "session_start"
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_dedup_keys(spark, sf_dir).transform(
        order_result, "user_id", "event_type"
    )


ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type
FROM events ORDER BY user_id, event_type
"""


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_stateful_user_stats(spark, sf_dir).transform(order_result, "user_id")


ORACLE_STREAM_STATEFUL = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id ORDER BY user_id
"""


QUERIES = {
    "stream_session": q_stream_session,
    "stream_dedup": q_stream_dedup,
    "stream_stateful_user_stats": q_stream_stateful,
}

ORACLE = {
    "stream_session": ORACLE_EVENTS_SESSION,
    "stream_dedup": ORACLE_STREAM_DEDUP,
    "stream_stateful_user_stats": ORACLE_STREAM_STATEFUL,
}


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_static_enrich(spark, sf_dir).transform(
        order_result, "c_mktsegment", "event_type"
    )


ORACLE_STREAM_STATIC = """
SELECT c_mktsegment, event_type, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type ORDER BY c_mktsegment, event_type
"""

QUERIES["stream_static_join"] = q_stream_static_join
ORACLE["stream_static_join"] = ORACLE_STREAM_STATIC


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_stream_attribution(spark, sf_dir).transform(
        order_result, "user_id", "view_id", "buy_id"
    )


ORACLE_STREAM_STREAM_JOIN = """
SELECT b.user_id, v.event_id AS view_id, b.event_id AS buy_id
FROM events b JOIN events v
  ON b.user_id = v.user_id
 AND v.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 30 MINUTE
ORDER BY b.user_id, view_id, buy_id
"""

QUERIES["stream_stream_join"] = q_stream_stream_join
ORACLE["stream_stream_join"] = ORACLE_STREAM_STREAM_JOIN


def q_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_tws_user_extremes(spark, sf_dir).transform(order_result, "user_id")


ORACLE_STREAM_TWS = """
SELECT user_id, count(*) AS n_events,
       round(max(value), 2) AS max_value,
       round(min(value), 2) AS min_value
FROM events GROUP BY user_id ORDER BY user_id
"""

# registered only where the runtime can actually execute it (protobuf gate)
if tws_available():
    QUERIES["stream_tws_user_extremes"] = q_stream_tws
    ORACLE["stream_tws_user_extremes"] = ORACLE_STREAM_TWS


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming sliding windows — 10-minute windows sliding every 5
    (each event lands in 2 overlapping windows), watermarked, complete-mode
    replay. Completes the real-stream window taxonomy (tumbling ✓ session ✓
    sliding ← here); the batch twin is ``events_sliding`` and the oracle is
    its shifted-tumbling-bucket expansion.

    Scale: overlapping windows multiply STATE, not input — each event
    updates window_len/slide aggregation states (2 here); state is keyed by
    window so it ages out with the watermark like any tumbling agg."""
    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return (
        run_to_memory(stream, "complete", "sink_sliding")
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .transform(order_result, "window_start")
    )


QUERIES["stream_sliding"] = q_stream_sliding
ORACLE["stream_sliding"] = ORACLE_EVENTS_SLIDING


def q_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FROM a custom Python DataSource
    (sources/stream_replay.py): the events feed replayed through the
    Spark 4 ``SimpleDataSourceStreamReader`` offset contract in ~8
    feed-sized micro-batches, aggregated per event_type. Equality with the plain
    batch oracle proves the replay is exactly-once END TO END — a
    dropped or double-read micro-batch anywhere in the offset protocol
    diverges the counts: an availableNow trigger would keep only the
    source's first prefetched batch."""
    agg = replay_stream(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return run_to_memory(agg, "complete", "sink_pyds_replay").transform(
        order_result, "event_type"
    )


ORACLE_STREAM_PYTHON_SOURCE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""

QUERIES["stream_python_source"] = q_stream_python_source
ORACLE["stream_python_source"] = ORACLE_STREAM_PYTHON_SOURCE


def q_stream_python_source_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PARTITION-PLANNED Python streaming source
    (sources/stream_replay.py ``DataSourceStreamReader``): the feed is
    hash-sharded by user_id, the offset is a per-shard cursor vector, and
    each micro-batch's shards are read BY EXECUTORS in parallel — the
    driver only plans (shard, lo, hi) ranges. Same exactly-once proof as
    the simple variant (equality with the batch oracle), now with the
    read path distributed; per-shard user counts make the output
    additionally sensitive to shard-assignment mistakes."""
    spark.dataSource.register(EventReplayShardedDataSource)
    stream = (
        spark.readStream.format("eventreplay_sharded")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("n_shards", 4)
        .load()
    )
    agg = stream.groupBy((F.col("user_id") % 4).alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        # exact integer mass of the shard's user ids: any row landing in
        # the wrong shard (or read twice / dropped) shifts it — streaming
        # aggs forbid countDistinct, and this is a stronger check anyway
        F.sum("user_id").cast("long").alias("uid_mass"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return run_to_memory(agg, "complete", "sink_pyds_sharded").transform(
        order_result, "shard"
    )


ORACLE_STREAM_PYTHON_SOURCE_SHARDED = """
SELECT user_id % 4 AS shard, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(user_id) AS BIGINT) AS uid_mass,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1 ORDER BY shard
"""

QUERIES["stream_python_source_sharded"] = q_stream_python_source_sharded
ORACLE["stream_python_source_sharded"] = ORACLE_STREAM_PYTHON_SOURCE_SHARDED


def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC snapshot maintenance (see streaming.pipelines
    .stream_cdc_apply); after the drain it must equal the batch
    ``cdc_apply`` compaction exactly, so the two share one oracle."""
    return stream_cdc_apply(spark, sf_dir).transform(order_result, "user_id")


QUERIES["stream_cdc_apply"] = q_stream_cdc_apply
ORACLE["stream_cdc_apply"] = ORACLE_CDC_APPLY


def q_stream_cep_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP pattern match (see streaming.pipelines
    .stream_cep_sequence): per-user 1-event state buffer over the custom
    ordered replay source, cross-batch adjacency carry; after the drain it
    equals the batch ``events_cep_sequence`` lead-window exactly, so the
    two share one oracle."""
    return stream_cep_sequence(spark, sf_dir).transform(order_result, "user_id")


QUERIES["stream_cep_sequence"] = q_stream_cep_sequence
ORACLE["stream_cep_sequence"] = ORACLE_EVENTS_CEP


def q_stream_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``sketch_quantile_hist`` — the mergeable-sketch
    property exercised where it matters: the additive (event_type, bin)
    histogram accumulates in the STATE STORE across ~8 real micro-batches
    of the Python replay source, and the quantile estimates are read out
    of the drained sink batch-side with the SAME interpolation code
    (``sketches.hist_quantile_readout``). Because the sketch is bounded
    by construction (≤ |types|·|bins| counters), the stream needs no
    watermark to bound state — the defining deployment advantage of a
    mergeable sketch over exact quantiles in a stream.

    Batch-oracle equality after the drain proves the per-batch partial
    histograms merged associatively: a dropped batch, a double-merged
    bin, or an order-dependent merge diverges the counts and the
    interpolated estimates with them."""
    hist = replay_stream(spark, sf_dir, "events").groupBy(
        F.col("event_type").alias("flag"),
        F.expr("CAST(floor(value / 10.0) AS BIGINT)").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    sink = run_to_memory(hist, "complete", "sink_qhist_replay")
    return (
        hist_quantile_readout(sink, 10)
        .select(
            F.col("flag").alias("event_type"),
            F.col("n").cast("long").alias("n"),
            F.round("e50", 4).alias("est_p50"),
            F.round("e95", 4).alias("est_p95"),
        )
        .transform(order_result, "event_type")
    )


ORACLE_STREAM_QUANTILE_HIST = f"""
WITH hist AS (
  SELECT event_type AS flag, CAST(floor(value / 10.0) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
), {_hist_readout_sql(10)}
SELECT flag AS event_type, n,
       round(e50, 4) AS est_p50,
       round(e95, 4) AS est_p95
FROM wide ORDER BY event_type
"""

QUERIES["stream_quantile_hist"] = q_stream_quantile_hist
ORACLE["stream_quantile_hist"] = ORACLE_STREAM_QUANTILE_HIST


def q_stream_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``sketch_countmin_topk`` — the sketch tier's
    second merge law on the wire. Count-Min counters are plain sums, so a
    CMS accumulates in the state store as an additive (j, b)-cell
    aggregation: each micro-batch of the Python replay source explodes
    its events into d=4 hash probes (``sketches._cms_probes``) and
    increments the matching cells; complete mode + no watermark because
    the sketch is bounded by construction (≤ d·w counters, the whole
    point of a mergeable sketch — state never grows with the stream).

    The read-out runs batch-side on the drained sink through the batch
    query's own ``_cms_topk``: exact per-user counts probe the STREAMED
    sketch, estimate = min over the key's d cells, top-20 by exact
    count. Batch-oracle equality after the drain is the
    associative-merge proof: a dropped micro-batch, a double-counted
    cell, or an order-dependent merge shifts at least one min-cell
    estimate."""
    stream = replay_stream(spark, sf_dir, "events")
    cms = (
        _cms_probes(stream.select(F.col("user_id").alias("k")))
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).alias("total"))
    )
    sink = run_to_memory(cms, "complete", "sink_cms_replay")
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _cms_topk(_cms_probes(exact), sink, "user_id")


ORACLE_STREAM_COUNTMIN = _cms_topk_sql(
    "SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1", "user_id"
)

QUERIES["stream_countmin_topk"] = q_stream_countmin_topk
ORACLE["stream_countmin_topk"] = ORACLE_STREAM_COUNTMIN


# --------------------------------------------------------------------------
# stream_hll_distinct — HLL register max-merge on the wire
# --------------------------------------------------------------------------

_HLL_M = 256  # registers (first 2 md5 hex chars)
# rho source: 24 bits parsed positionally from md5 hex chars 3..8
_HLL_W_EXPR = " + ".join(
    f"(instr('0123456789abcdef', substr(h, {3 + k}, 1)) - 1)"
    f" * {16 ** (5 - k)}"
    for k in range(6)
)
# rho = leading-zero count of the 24-bit word + 1 (1..25) — an exact
# integer CASE ladder, NOT floor(log2(w)): log2 of a power of two is not
# guaranteed correctly rounded on either engine, the ladder is.
_HLL_RHO_EXPR = (
    "CASE "
    + " ".join(f"WHEN w >= {1 << (23 - k)} THEN {k + 1}" for k in range(24))
    + " ELSE 25 END"
)
# alpha_256 * m^2 * 2^32 — one double literal shared verbatim by both
# engines, so the raw estimate is a single IEEE division from exact ints.
_HLL_K = repr(0.7213 / (1 + 1.079 / 256) * 256 * 256 * 4294967296.0)


def q_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``sketch_hll_rollup`` — the sketch tier's THIRD
    merge law on the wire, and the one the other two don't cover: the
    histogram and Count-Min twins accumulate by SUM (additive counters),
    HyperLogLog registers merge by MAX (idempotent), so this query proves
    the state store's max-aggregation is associative AND duplicate-
    insensitive — replaying an element into a register a second time must
    not move it, which no sum-based sketch can witness.

    The sketch is an EXPLICIT deterministic HLL (Flajolet et al. 2007):
    register = first 2 md5 hex chars of the user id (m=256), rho =
    leading-zero count of the next 24 hash bits + 1 via an exact integer
    CASE ladder. Unlike the batch query's DataSketches binding (opaque
    binary, bounded-error oracle contract), every register value here is
    reproducible in SQL, so the oracle checks the streamed sketch
    CELL-FOR-CELL through the estimator — exact hash equality, the
    strongest form of the merge-law proof.  Complete mode, no watermark:
    state is ≤ |types|·m rows by construction, the defining property of
    a sketch in a stream.

    Read-out (batch-side, on the drained sink): the standard estimator
    with integer-exact internals — ``sum(2^(32-M_j))`` is a BIGINT (every
    term a dyadic integer), the raw estimate is ONE IEEE division of the
    shared alpha·m²·2³² literal by that integer, and the small-range
    branch (raw ≤ 2.5m with empty registers — live at sf0.001/0.01,
    where ~150 users can't fill 256 registers; the raw branch takes over
    once the corpus saturates the sketch) is linear counting
    ``m·ln(m/V)`` on exact integer inputs.  Exact distincts from the
    batch table sit alongside for the error report."""
    regs = (
        replay_stream(spark, sf_dir, "events")
        .select(
            "event_type",
            F.md5(F.col("user_id").cast("string")).alias("h"),
        )
        .select(
            "event_type",
            F.expr(
                "(instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16"
                " + instr('0123456789abcdef', substr(h, 2, 1)) - 1"
            ).cast("long").alias("r"),
            F.expr(_HLL_W_EXPR).cast("long").alias("w"),
        )
        .select(
            "event_type",
            "r",
            F.expr(_HLL_RHO_EXPR).cast("long").alias("rho"),
        )
        .groupBy("event_type", "r")
        .agg(F.max("rho").alias("m"))
    )
    sink = run_to_memory(regs, "complete", "sink_hll_replay")
    agg = sink.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nreg"),
        F.sum(F.expr("CAST(pow(2, 32 - m) AS BIGINT)")).alias("sp"),
    )
    est = agg.select(
        "event_type",
        F.col("nreg").cast("long").alias("n_registers"),
        (F.lit(_HLL_M) - F.col("nreg")).cast("long").alias("v_zero"),
        (
            F.lit(float(_HLL_K))
            / (
                F.col("sp")
                + (F.lit(_HLL_M) - F.col("nreg")) * F.lit(4294967296)
            ).cast("double")
        ).alias("raw"),
    ).select(
        "event_type",
        "n_registers",
        "v_zero",
        F.round(
            F.when(
                (F.col("raw") <= 2.5 * _HLL_M) & (F.col("v_zero") > 0),
                F.lit(float(_HLL_M))
                * F.log(F.lit(float(_HLL_M)) / F.col("v_zero").cast("double")),
            ).otherwise(F.col("raw")),
            4,
        ).alias("est_hll"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", "n_exact", "n_registers", "v_zero", "est_hll")
        .transform(order_result, "event_type")
    )


ORACLE_STREAM_HLL = f"""
WITH hashed AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events
), parsed AS (
  SELECT event_type,
         (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
           + instr('0123456789abcdef', substr(h, 2, 1)) - 1 AS r,
         {_HLL_W_EXPR} AS w
  FROM hashed
), rho AS (
  SELECT event_type, r, {_HLL_RHO_EXPR} AS rho FROM parsed
), regs AS (
  SELECT event_type, r, max(rho) AS m FROM rho GROUP BY 1, 2
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS nreg,
         CAST(sum(CAST(pow(2, 32 - m) AS BIGINT)) AS BIGINT) AS sp
  FROM regs GROUP BY 1
), est AS (
  SELECT event_type, nreg,
         {_HLL_M} - nreg AS v_zero,
         {_HLL_K}
           / CAST(sp + ({_HLL_M} - nreg) * 4294967296 AS DOUBLE) AS raw
  FROM agg
), ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
)
SELECT e.event_type,
       x.n_exact,
       e.nreg AS n_registers,
       CAST(e.v_zero AS BIGINT) AS v_zero,
       round(CASE WHEN e.raw <= {2.5 * _HLL_M} AND e.v_zero > 0
                  THEN {float(_HLL_M)}
                       * ln({float(_HLL_M)} / CAST(e.v_zero AS DOUBLE))
                  ELSE e.raw END, 4) AS est_hll
FROM est e JOIN ex x ON e.event_type = x.event_type
ORDER BY e.event_type
"""

QUERIES["stream_hll_distinct"] = q_stream_hll_distinct
ORACLE["stream_hll_distinct"] = ORACLE_STREAM_HLL


# --------------------------------------------------------------------------
# stream_dedup_incremental — seen-keys state on the wire
# --------------------------------------------------------------------------


def q_stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``dedup_incremental`` — see
    streaming/pipelines.stream_dedup_incremental for the full design
    (doc replay in doc_id order, ~8 deterministic micro-batches, per-
    fingerprint seen-flag in the state store, append-mode emission)."""
    return stream_dedup_incremental(spark, sf_dir).transform(order_result, "doc_id")


# DuckDB twin of the docreplay "auto" batching (sources/stream_replay.py),
# written independently: the batch index bi of a doc is
# rank(doc_id) // ceil(n/8).
_DOC_BATCH_SQL = """
SELECT doc_id, rk // (SELECT CAST(ceil(count(*) / 8.0) AS BIGINT)
                      FROM documents) AS bi
FROM (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rk
      FROM documents)
"""

# Batch reconstruction of the replay: 'seen earlier' = this fp's minimum
# batch index precedes mine; in-batch keeper = minimum doc_id within
# (fp, batch).
ORACLE_STREAM_DEDUP_INCR = f"""
WITH b AS (
  SELECT doc_id, {_HEAD_FP_SQL} AS fp, r.bi
  FROM documents JOIN ({_DOC_BATCH_SQL}) r USING (doc_id)
), ann AS (
  SELECT doc_id, fp, bi,
         min(bi) OVER (PARTITION BY fp) AS min_bi,
         min(doc_id) OVER (PARTITION BY fp, bi) AS min_doc
  FROM b
)
SELECT doc_id,
       CASE WHEN bi > min_bi THEN 'dup_vs_seen'
            WHEN doc_id > min_doc THEN 'dup_in_batch'
            ELSE 'kept' END AS status
FROM ann ORDER BY doc_id
"""

QUERIES["stream_dedup_incremental"] = q_stream_dedup_incremental
ORACLE["stream_dedup_incremental"] = ORACLE_STREAM_DEDUP_INCR


# --------------------------------------------------------------------------
# stream_dedup_neardup — banded near-dup ingest on the wire
# --------------------------------------------------------------------------


def q_stream_dedup_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup ingest twin — see
    streaming/pipelines.stream_dedup_neardup for the full design (doc
    replay in doc_id order, per-row MinHash band signature, per-band-key
    seen-flag state, any-band OR folded at the boundary)."""
    return stream_dedup_neardup(spark, sf_dir).transform(order_result, "doc_id")


def _oracle_stream_neardup() -> str:
    """Batch reconstruction of the banded replay: batch index from
    ``_DOC_BATCH_SQL`` over ALL docs (the docreplay 'auto' rule); a band
    key was 'seen earlier' iff its minimum batch index precedes mine; the
    in-batch keeper per (band, key, batch) is the minimum doc_id; the
    per-doc verdict is the same any-band OR the stream folds after the
    drain. Signature CTEs are the dedup_minhash_lsh oracle's (same hash
    family, bit-for-bit)."""
    return f"""
WITH {_MH_CTES},
k AS (
  SELECT b.doc_id, b.band_idx, b.band_key, r.bi
  FROM banded b JOIN ({_DOC_BATCH_SQL}) r ON b.doc_id = r.doc_id
),
ann AS (
  SELECT doc_id, bi,
         min(bi) OVER (PARTITION BY band_idx, band_key) AS min_bi,
         min(doc_id) OVER (PARTITION BY band_idx, band_key, bi) AS min_doc
  FROM k
),
per_doc AS (
  SELECT doc_id,
         max(CASE WHEN bi > min_bi THEN 1 ELSE 0 END) AS prior,
         max(CASE WHEN doc_id > min_doc THEN 1 ELSE 0 END) AS lower_in
  FROM ann GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN prior = 1 THEN 'dup_vs_seen'
            WHEN lower_in = 1 THEN 'dup_in_batch'
            ELSE 'kept' END AS status
FROM per_doc ORDER BY doc_id
"""


QUERIES["stream_dedup_neardup"] = q_stream_dedup_neardup
ORACLE["stream_dedup_neardup"] = _oracle_stream_neardup()


# --------------------------------------------------------------------------
# stream_quality_gate — online classifier scoring on the wire
# --------------------------------------------------------------------------


def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``quality_classifier_apply`` — see
    streaming/pipelines.stream_quality_gate for the full design (doc
    replay micro-batches, promoted 257-weight model in an Arrow
    ``mapInPandas`` closure, zero-shuffle zero-state map-side scoring,
    bit-exact tokenize/hash parity with the batch feature pipeline)."""
    return stream_quality_gate(spark, sf_dir).transform(order_result, "doc_id")


def _oracle_stream_quality_gate() -> str:
    """The batch classifier's own scoring chain IS the oracle: a pure
    per-row function of (model, text) is batch/stream invariant, so the
    hash check proves the wire adds nothing — no dropped batch, no
    tokenizer drift between the JVM plan and the Arrow closure."""
    return f"""
WITH {_qc_sql_chain()},
qc_fm AS (
  SELECT x.doc_id, CAST(sum(x.c * w.weight_micro) AS BIGINT) AS mm
  FROM qc_x x JOIN qc_w{_QC_ITERS} w ON w.feature_id = x.b GROUP BY 1)
SELECT doc_id, mm AS margin_micro,
       CAST(CASE WHEN mm >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM qc_fm
ORDER BY doc_id
"""


QUERIES["stream_quality_gate"] = q_stream_quality_gate
ORACLE["stream_quality_gate"] = _oracle_stream_quality_gate()
