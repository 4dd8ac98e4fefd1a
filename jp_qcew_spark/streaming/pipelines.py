"""Structured Streaming surface (SURVEY.md §2.I — extension tier B).

The reference is pure batch (quarterly files processed offline,
reference README.md:58-73); this module is the engine's streaming extension:
file-source ingest → event-time watermark → windowed / sessionized /
deduplicated / custom-stateful operators → sink. Each pipeline here has a
batch twin in ``jp_qcew_spark.queries.events`` computed with the *same*
window functions, which is how the DuckDB oracle checks streaming results.

Scale posture: streaming state is keyed by ``user_id`` (the natural
100 TB partition key); watermarks bound state size. Every bounded replay
drains through ``run_to_memory``, which ends when the committed offsets
reach the end of the feed; the same pipelines run unmodified with a live
trigger against an arriving-file directory (`maxFilesPerTrigger`) in
production.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from jp_qcew_spark.io import (
    ensure_session_confs,
    events_ts_micros,
    load_table,
    metadata_row_count,
    table_schema,
)
from jp_qcew_spark.sources.stream_replay import (
    DocReplayDataSource,
    EventReplayDataSource,
    footer_rows,
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet. Streaming sources never
    infer, so the schema is pinned up front from the session's table-schema
    memo (``io.table_schema``); ``ts`` becomes a real microsecond timestamp
    so watermarks/windows see event time, exactly as `io.load_table` does
    for batch."""
    stream = (
        spark.readStream.schema(table_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return events_ts_micros(stream)


_REPLAY_SOURCES = {
    "events": EventReplayDataSource,
    "documents": DocReplayDataSource,
}


def replay_stream(
    spark: SparkSession, sf_dir: str, table: str, batch_rows="auto"
) -> DataFrame:
    """Deterministic replay of one scale-factor table through its custom
    Python source (``sources/stream_replay.py``): ``events`` in
    (ts, event_id) order, ``documents`` in doc_id order, ``batch_rows``
    rows per micro-batch (``"auto"``: ceil(n/8) of the feed). Pins the
    engine confs, registers the source and returns the loaded stream."""
    source = _REPLAY_SOURCES[table]
    ensure_session_confs(spark)
    spark.dataSource.register(source)
    return (
        spark.readStream.format(source.name())
        .option("path", os.path.join(sf_dir, f"{table}.parquet"))
        .option("batch_rows", str(batch_rows))
        .load()
    )


def _ephemeral_checkpoint_dir() -> str | None:
    """A fresh checkpoint directory for one ``run_to_memory`` drain.

    The memory sink is the drain's output and nothing restarts from its
    checkpoint, so it lives in RAM rather than under ``java.io.tmpdir``,
    keeping offset-log and state-delta writes off the disk. Resolution
    order: ``SPARK_GRAFT_STREAM_CKPT``, else a fresh directory under
    /dev/shm, else None (Spark's own temp directory). Each drain gets its
    own directory: a reused one would make the next run try to recover a
    finished memory-sink query. Production checkpoints (explicit
    ``checkpoint_dir`` arguments, e.g. ``stream_qcew_ingest``) do not
    route through this."""
    forced = os.environ.get("SPARK_GRAFT_STREAM_CKPT")
    base = forced or "/dev/shm"
    if not os.path.isdir(base) or not os.access(base, os.W_OK):
        return None
    return tempfile.mkdtemp(prefix="jp_qcew_ckpt_", dir=base)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str,
    name: str | None = None,
    state_partitions: int = 8,
) -> DataFrame:
    """Drain a bounded stream into a memory sink and return the sink table
    (the engine's one bounded replay; production swaps the sink and the
    trigger, the plan is unchanged).

    The query starts on the default trigger and the drain returns from
    ``processAllAvailable()``, which returns once the committed offsets
    equal every source's latest offset and no data or watermark batch is
    pending: the drain ends on an offset, never on a timer. That holds for
    a ``SimpleDataSourceStreamReader`` too, whose latest offset is the next
    batch its prefetcher read, so the drain runs until the feed is
    exhausted (an availableNow trigger would keep only the first batch).
    A query that dies re-raises its own error. The query is stopped on
    every exit.

    Pass a stable ``name`` from fixed pipelines: re-running replaces the
    sink table instead of leaking a new one per call.

    ``state_partitions`` sizes the stream's state store instead of
    inheriting the batch shuffle width: the query clones the session in
    ``start()`` and its first offset log entry pins that clone's
    ``spark.sql.shuffle.partitions`` for the stream's lifetime. The
    caller's conf is restored as soon as ``start()`` returns. Every state
    partition costs a task and a store open per micro-batch, so size it to
    key cardinality (``state_width``)."""
    spark = stream_df.sparkSession
    name = name or f"sink_{uuid.uuid4().hex[:12]}"
    ckpt = _ephemeral_checkpoint_dir()
    try:
        writer = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
        )
        if ckpt:
            writer = writer.option("checkpointLocation", ckpt)
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        try:
            query = writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    finally:
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def state_width(spark: SparkSession, n_keys: int) -> int:
    """State-store width from key cardinality: ``keys // 1000``, at least
    8, capped at ``defaultParallelism``. Every state partition costs a
    store open and commit per micro-batch, so width beyond ~keys/1000 is
    overhead; the width grows with the key space, and the cap wins over
    the floor on a session with fewer than 8 cores."""
    dp = spark.sparkContext.defaultParallelism
    return min(dp, max(8, n_keys // 1000))


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: 30-minute-gap session windows per user over
    the event stream (watermark bounds session state). Complete-mode replay
    equals the batch ``session_window`` aggregation bit-for-bit."""
    sessions = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return run_to_memory(sessions, "complete", "sink_sessions").select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type). WHICH physical event survives per key is
    batch-order-dependent, so the deterministic (oracle-checkable) output is
    the surviving key set — one row per key, the semantic guarantee of
    streaming dedup."""
    deduped = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(deduped, "append", "sink_dedup_keys")


def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL join — the classic attribution shape: every
    purchase joined to every view by the same user in the preceding 30
    minutes, both sides unbounded streams.

    This is the one join class a static plan cannot express: both sides
    arrive forever, so the engine must buffer each side keyed by user and
    age rows out as the other side's watermark passes. The time-range
    predicate (`buy_ts BETWEEN view_ts AND view_ts + 30 min`) is what makes
    state FINITE: Spark derives per-side state-retention bounds from it plus
    the two watermarks — without the range the state would grow without
    bound and the query is (rightly) rejected.

    Scale: state is hash-partitioned by user_id (the equi-key) exactly like
    the other stateful pipelines; matched pairs emit in append mode once
    both rows are final. The emitted PAIR SET is deterministic (inner join,
    closed predicate), which is what the DuckDB oracle checks.
    """
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    buys = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", "1 hour")
    )
    joined = buys.join(
        views,
        F.expr(
            "user_id = v_user AND "
            "buy_ts >= view_ts AND "
            "buy_ts <= view_ts + interval 30 minutes"
        ),
    ).select("user_id", "view_id", "buy_id")
    return run_to_memory(joined, "append", "sink_ss_attribution")


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def _user_stats_fn(key, pdfs, state):
    """Per-user running (count, sum(value)) — arbitrary stateful op via
    applyInPandasWithState (SURVEY §2.I). Counters are monotone, so the final
    emission per user is recoverable downstream even across multi-batch
    replays (max n wins)."""
    import pandas as pd

    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
    )


def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user event count + value sum
    held in explicit GroupState (``applyInPandasWithState``), update-mode
    emission; the last (= max-count) emission per user is the final answer."""
    stats = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = run_to_memory(stats, "update", "sink_user_stats")
    final = sink.groupBy("user_id").agg(F.max_by("n_events", "n_events").alias("n_events"),
                                        F.max_by("sum_value", "n_events").alias("sum_value"))
    return final.select(
        "user_id", "n_events", F.round("sum_value", 2).alias("sum_value")
    )


_CDC_STATE_SCHEMA = StructType(
    [
        StructField("ts_us", LongType()),
        StructField("event_id", LongType()),
        StructField("ev_type", StringType()),
        StructField("value", DoubleType()),
        StructField("n_ops", LongType()),
    ]
)

_CDC_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("ev_type", StringType()),
        StructField("value", DoubleType()),
        StructField("n_ops", LongType()),
    ]
)


def _cdc_fn(key, pdfs, state):
    """Per-user last-writer-wins compaction state: (ts, event_id) of the
    current winner plus the monotone op counter. Batch boundaries don't
    matter — max((ts, event_id)) is associative — and the counter makes
    the final emission per user recoverable downstream (max n_ops wins),
    the same multi-batch-replay discipline as _user_stats_fn."""
    import pandas as pd

    if state.exists:
        ts_us, eid, etype, val, n = state.get
    else:
        ts_us, eid, etype, val, n = -1, -1, "", 0.0, 0
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf) > 256:
            # vectorized lexicographic argmax over (ts, event_id) for
            # big per-key batches (replay/catch-up shape)
            t_us = pdf["ts"].astype("int64") // 1000  # ns -> µs
            at_max = pdf[t_us == t_us.max()]
            row = at_max.loc[at_max["event_id"].idxmax()]
            r_ts, r_eid = int(t_us.max()), int(row["event_id"])
            if (r_ts, r_eid) > (ts_us, eid):
                ts_us, eid = r_ts, r_eid
                etype, val = str(row["event_type"]), float(row["value"])
        else:
            # plain loop for the steady-state shape (tens of rows per key
            # per micro-batch): 4 pandas ops per tiny group cost MORE than
            # the iteration — measured 18 vs 22 s at the sf3 study, where
            # 36k key-batches average ~100 rows
            for t, e, ty, v in zip(
                pdf["ts"], pdf["event_id"], pdf["event_type"], pdf["value"]
            ):
                t_us = t.value // 1000
                if (t_us, int(e)) > (ts_us, eid):
                    ts_us, eid = t_us, int(e)
                    etype, val = str(ty), float(v)
    state.update((ts_us, eid, etype, val, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "ts_us": [ts_us],
            "ev_type": [etype],
            "value": [val],
            "n_ops": [n],
        }
    )


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch ``cdc_apply`` snapshot: the events
    changelog streams through ``applyInPandasWithState`` keeping only the
    last-writer row per key (max (ts, event_id)) and the op count; after
    the drain the snapshot equals the batch compaction exactly — delete
    tombstones ('view' as last op) drop the key. State per key is ONE
    row regardless of stream length — the production shape for a
    continuously-maintained CDC snapshot at 100 TB/day changelog volume
    (contrast scd2_history, which materializes every version)."""
    compacted = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _cdc_fn,
            outputStructType=_CDC_OUT_SCHEMA,
            stateStructType=_CDC_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = run_to_memory(compacted, "update", "sink_cdc_apply")
    final = (
        sink.groupBy("user_id")
        .agg(
            F.max_by("ts_us", "n_ops").alias("ts_us"),
            F.max_by("ev_type", "n_ops").alias("ev_type"),
            F.max_by("value", "n_ops").alias("value"),
            F.max("n_ops").alias("n_ops"),
        )
        .filter(F.col("ev_type") != "view")
    )
    return final.select(
        "user_id",
        F.round("value", 2).alias("last_value"),
        F.timestamp_micros(F.col("ts_us")).alias("updated_at"),
        F.col("n_ops").cast("long").alias("n_ops"),
    )


def stream_qcew_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
):
    """Streaming QCEW ingest: quarterly fixed-width files arriving in a
    directory → decode/type → append to (year, qtr)-partitioned parquet,
    exactly-once via the checkpoint (SURVEY.md §4: the reference's serial
    offline batch loop, reference data_process.py:47-92, becomes a
    file-source stream with `maxFilesPerTrigger` pacing).

    Partition keys come from each RECORD's parsed (year, qtr) — streaming
    cannot do the batch path's per-file mode-keying (a per-file aggregate
    over unbounded input); dirty lines land in their parsed partition and
    the batch compactor re-keys them on the next `run_etl` pass. Returns the
    StreamingQuery; callers `awaitTermination()` (availableNow drains the
    backlog then stops — the replayable test/batch-catchup trigger).
    """
    from jp_qcew_spark.sources.fixed_width import decode_qcew, line_reader, typed_qcew

    ensure_session_confs(spark)
    raw = (
        line_reader(spark.readStream)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(input_dir)
        .select(F.col("value"), F.input_file_name().alias("source_file"))
        .filter(F.length(F.trim("value")) > 0)
    )
    typed = typed_qcew(decode_qcew(raw)).drop("source_file")
    return (
        typed.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("year", "qtr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_foreach_batch_sink(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Exactly-once parquet sink on plain OSS Spark via ``foreachBatch`` +
    batch-id-keyed dynamic partition overwrite.

    The parquet streaming sink is at-least-once across failures (a batch
    re-run appends duplicate files); the canonical fix without a
    transactional table format is: each micro-batch writes to its OWN
    partition (``batch_id=N``) in overwrite mode with dynamic partition
    overwrite, so a replayed batch rewrites exactly its partition —
    idempotent by construction — while the checkpoint guarantees each source
    offset range maps to one batch id. Readers see append-only data keyed by
    a monotonically increasing batch id (also the incremental-consumption
    cursor for downstream jobs). At warehouse scale the same shape becomes
    Delta/Iceberg MERGE; the partition-overwrite contract is identical."""
    ensure_session_confs(spark)
    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "event_type", "value", "ts"
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # dynamic mode, per write: overwrite ONLY the partition this batch
        # writes (its own batch_id dir), so a replayed batch replaces itself
        # and never clobbers earlier batches; no session conf is touched
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_dir)
        )

    return (
        ev.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (user_id → c_custkey). Stateless append — the static
    side is re-planned per micro-batch (and broadcast, being dim-sized), so
    no streaming state accumulates; the canonical shape for dimension
    enrichment at ingest time."""
    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        "c_mktsegment",
    )
    enriched = (
        ev.join(F.broadcast(cust), "user_id", "left")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return run_to_memory(enriched, "complete", "sink_static_enrich")


from pyspark.sql.streaming import StatefulProcessor


class _UserAggProcessor(StatefulProcessor):
    """StatefulProcessor for transformWithState: per-user monotone counters
    (count / max / min) in a ValueState. Counters only improve, so the final
    emission per user is recoverable downstream regardless of batch count."""

    def init(self, handle) -> None:
        self._agg = handle.getValueState(
            "agg", "n long, mx double, mn double"
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        if self._agg.exists():
            n, mx, mn = self._agg.get()
        else:
            n, mx, mn = 0, float("-inf"), float("inf")
        for pdf in rows:
            n += len(pdf)
            mx = max(mx, float(pdf["value"].max()))
            mn = min(mn, float(pdf["value"].min()))
        self._agg.update((n, mx, mn))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": [mx],
                "min_value": [mn],
            }
        )

    def close(self) -> None:
        pass


def tws_available() -> bool:
    """transformWithState's Python state protocol needs a working
    google.protobuf — absent in some runtimes (this container ships a broken
    protobuf). Gate, don't crash (environment rule: stub or gate missing
    deps behind an import-try)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_tws_user_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via the MODERN transformWithState API
    (Spark 4 ``transformWithStateInPandas`` + StatefulProcessor — the
    successor to applyInPandasWithState, with typed ValueState/ListState/
    MapState and timers): per-user event count + value extremes.

    Raises NotImplementedError where the runtime lacks a working protobuf
    (see ``tws_available``); ``stream_stateful_user_stats`` is the
    applyInPandasWithState equivalent that runs everywhere.
    """
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas requires google.protobuf, which is "
            "not usable in this runtime; use stream_stateful_user_stats"
        )
    stats = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _UserAggProcessor(),
            outputStructType=(
                "user_id long, n_events long, max_value double, min_value double"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
    sink = run_to_memory(stats, "update", "sink_tws_extremes")
    final = sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_value").alias("max_value"),
        F.min("min_value").alias("min_value"),
    )
    return final.select(
        "user_id",
        "n_events",
        F.round("max_value", 2).alias("max_value"),
        F.round("min_value", 2).alias("min_value"),
    )


# Executors must never need this package on their import path: the driver can
# run from any cwd (the round driver does), and functions defined here cross
# the JVM->Python-worker boundary. Pickle-by-value makes every shipped
# closure self-contained, so workers only need pyspark/pandas/numpy.
import sys as _sys  # noqa: E402

from pyspark import cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


_CEP_STATE_SCHEMA = StructType(
    [
        StructField("last_type", StringType()),
        StructField("last_ts_us", LongType()),
        StructField("last_eid", LongType()),
    ]
)

_CEP_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("click_ts_us", LongType()),
        StructField("purchase_value", DoubleType()),
    ]
)

_CEP_WITHIN_US = 30 * 60 * 1_000_000  # the pattern's 30-minute budget


def _cep_fn(key, pdfs, state):
    """Per-user adjacency pattern matcher: state is ONE event of lookahead
    (the last event seen), so a click at the end of micro-batch N pairs
    with its user's first event of batch N+1 — the cross-batch carry that
    makes streaming CEP different from re-running the batch query per
    batch. Matches are emitted append-mode exactly once: a (click,
    purchase) adjacency is decided the moment the successor event is
    seen, never revised."""
    import pandas as pd

    if state.exists:
        last_type, last_ts_us, last_eid = state.get
    else:
        last_type, last_ts_us, last_eid = "", -1, -1
    frames = [pdf for pdf in pdfs if len(pdf)]
    out_clicks: list[int] = []
    out_vals: list[float] = []
    if frames:
        allpdf = pd.concat(frames, ignore_index=True)
        t_us = allpdf["ts"].astype("int64") // 1000  # ns -> µs
        allpdf = allpdf.assign(_ts_us=t_us).sort_values(
            ["_ts_us", "event_id"], kind="mergesort"
        )
        for ty, ts_us, eid, val in zip(
            allpdf["event_type"], allpdf["_ts_us"],
            allpdf["event_id"], allpdf["value"],
        ):
            if (
                last_type == "click"
                and ty == "purchase"
                and int(ts_us) <= last_ts_us + _CEP_WITHIN_US
            ):
                out_clicks.append(last_ts_us)
                out_vals.append(float(val))
            last_type, last_ts_us, last_eid = str(ty), int(ts_us), int(eid)
    state.update((last_type, last_ts_us, last_eid))
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(out_clicks),
            "click_ts_us": out_clicks,
            "purchase_value": out_vals,
        }
    )


def stream_cep_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch ``events_cep_sequence`` pattern match,
    fed by the CUSTOM Python streaming source (sources/stream_replay.py)
    precisely because its offset contract delivers the feed in global
    (ts, event_id) order across 4 micro-batches: the per-user 1-event
    state buffer (_cep_fn) must genuinely bridge batch boundaries for the
    result to equal the batch lead-window — a file-source replay would
    collapse to one batch and never exercise the carry. After the drain the
    match set equals the batch query exactly, so the two share one
    oracle."""
    # 4 micro-batches, not the source's auto-8: every batch of a stateful
    # consumer pays a full state-store pass (shuffle, per-user pandas
    # invocation, store commit), and three boundary carries prove
    # cross-batch adjacency as well as seven. The batch size comes from
    # parquet footers only, no data read.
    n_rows = footer_rows(os.path.join(sf_dir, "events.parquet"))
    stream = replay_stream(spark, sf_dir, "events", max(1, -(-n_rows // 4)))
    matches = (
        stream.select("user_id", "event_id", "ts", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _cep_fn,
            outputStructType=_CEP_OUT_SCHEMA,
            stateStructType=_CEP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # 32 state partitions, not the stream tier's default 8: the stateful
    # pass is per-user pandas invocations, so task parallelism on the
    # state shuffle is the lever (BASELINE.md "Stream state width")
    sink = run_to_memory(
        matches, "append", "sink_cep_sequence", state_partitions=32
    )
    return sink.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.timestamp_micros(F.min("click_ts_us")).alias("first_match_ts"),
        F.round(F.sum("purchase_value"), 2).alias("matched_value"),
    )


# --------------------------------------------------------------------------
# Streaming incremental dedup — seen-keys state on the wire
# --------------------------------------------------------------------------

_DEDUP_INCR_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("status", StringType()),
    ]
)
_DEDUP_INCR_STATE = StructType([StructField("seen", LongType())])


def _dedup_incr_fn(key, pdfs, state):
    """Per-fingerprint ingest decision against accumulated seen-keys
    state: if this fingerprint's state exists (set by an EARLIER
    micro-batch), every arriving doc is ``dup_vs_seen``; otherwise the
    smallest doc_id in this batch is ``kept`` and the rest are
    ``dup_in_batch`` — the ``dedup_incremental`` decision sequence with
    the corpus index replaced by the state store. State is one flag per
    fingerprint: it grows with DISTINCT keys, never with the stream —
    the production analog holds it in RocksDB exactly like this."""
    import pandas as pd

    ids: list[int] = []
    for pdf in pdfs:
        ids.extend(int(x) for x in pdf["doc_id"])
    ids.sort()
    if state.exists:
        statuses = ["dup_vs_seen"] * len(ids)
    else:
        statuses = ["kept"] + ["dup_in_batch"] * (len(ids) - 1)
    state.update((1,))
    yield pd.DataFrame({"doc_id": ids, "status": statuses})


def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``dedup_incremental``: the documents table
    replays in doc_id order as ~8 deterministic micro-batches
    (``replay_stream``); each batch's head fingerprints probe the
    accumulated seen-keys state (``applyInPandasWithState`` keyed by fp).
    Batch-oracle equality after the drain proves the dedup tier's merge
    law on the wire the way the HLL/CMS twins do for sketches: because
    batch boundaries are a pure function of (doc_id rank, ceil(n/8)),
    the oracle reconstructs
    "seen in an earlier batch" with two window minima — a dropped batch,
    a state flag lost between commits, or a non-deterministic in-batch
    keeper all shift at least one status."""
    from jp_qcew_spark.queries.curation import _head_fp

    stream = replay_stream(spark, sf_dir, "documents")
    keyed = stream.select("doc_id", _head_fp(F.col("text")).alias("fp"))
    out = keyed.groupBy("fp").applyInPandasWithState(
        _dedup_incr_fn,
        outputStructType=_DEDUP_INCR_OUT,
        stateStructType=_DEDUP_INCR_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # fingerprints are near-unique (~|corpus| keys), so the width derives
    # from the feed's parquet-metadata row count (state_width)
    n_docs = metadata_row_count(spark, sf_dir, "documents")
    return run_to_memory(
        out,
        "append",
        "sink_dedup_incremental",
        state_partitions=state_width(spark, n_docs),
    )


# --------------------------------------------------------------------------
# Streaming NEAR-dup ingest — banded seen-keys state on the wire
# --------------------------------------------------------------------------

_NEARDUP_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("prior", LongType()),
        StructField("lower_in_batch", LongType()),
    ]
)
_NEARDUP_STATE = StructType(
    [StructField("seen_keys", ArrayType(BinaryType()))]
)

# Stateful-op key = crc32(band identity) % _NEARDUP_BUCKETS, not the band
# key itself: at ~3 band keys per doc, one Arrow invocation per key does
# not scale, so a bucket bounds the invocations per micro-batch at
# min(|keys in batch|, buckets) and holds its keys' identities in an
# array-typed state. Every batch rewrites each touched bucket's array, so
# a B-batch replay serializes ~B/2 x the final state in total whatever the
# bucket count; map-typed transformWithState state (one entry per band
# key) would remove that rewrite, but the API needs protobuf
# (``tws_available``). Measurements: BASELINE.md "Near-dup stream buckets".
_NEARDUP_BUCKETS = 512


def _neardup_fn(key, pdfs, state):
    """Bucketed ingest probe against accumulated seen-keys state: the
    bucket's state holds the set of band identities (18-byte packed
    ``band_idx || md5``) registered by EARLIER micro-batches. Per band identity in this batch:
    docs get ``prior=1`` if the identity was already registered; within
    the batch the smallest doc_id per identity is its keeper
    (``lower_in_batch=0``) and the rest are flagged. The per-DOC verdict
    is an any-band OR folded AFTER the drain — a doc is near-dup if ANY
    of its bands hit — which cannot be decided inside one key group, so
    the stateful op emits per-(band, doc) facts and the batch rollup at
    the boundary folds them (the stream_cep_sequence post-sink-agg
    shape). State grows with DISTINCT signature bands (<= _NUM_BANDS per
    distinct doc), never with the stream. Deterministic by construction:
    sorted group iteration, sorted doc ids, sorted state list."""
    import pandas as pd

    rows = pd.concat(list(pdfs), ignore_index=True)
    # binary state may round-trip as bytearray (unhashable) — normalize
    # to bytes before set membership
    seen = (
        {bytes(x) for x in state.get[0]} if state.exists else set()
    )
    out_ids: list[int] = []
    out_prior: list[int] = []
    out_lower: list[int] = []
    # the identity column k arrives pre-built from the plan (one JVM
    # unhex shared with the bucket derivation)
    for k, grp in rows.groupby("k", sort=True):
        k = bytes(k)
        ids = sorted(int(x) for x in grp["doc_id"])
        prior = 1 if k in seen else 0
        seen.add(k)
        out_ids.extend(ids)
        out_prior.extend([prior] * len(ids))
        out_lower.extend([0] + [1] * (len(ids) - 1))
    state.update((sorted(seen),))
    yield pd.DataFrame(
        {
            "doc_id": out_ids,
            "prior": out_prior,
            "lower_in_batch": out_lower,
        }
    )


def stream_dedup_neardup(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int | None = None,
    rows_per_band: int | None = None,
) -> DataFrame:
    """STREAMING twin of banded NEAR-dup ingest: the
    production crawl pipeline dedups arriving batches against the corpus
    by MinHash band keys, not exact fingerprints —
    ``stream_dedup_incremental`` with the key space swapped from
    md5(head) to the ``dedup_minhash_lsh`` band family (same 12-hash /
    3-band / 4-row signature, same md5-string minima, so the hash family
    stays oracle-checkable bit-for-bit).

    ``num_hashes`` / ``rows_per_band`` default to the fixed family's
    pinned 12/4 (the registry query's oracle-checked behavior). A
    production wire with a recall CONTRACT passes the derived config
    instead — ``queries.dedup._lsh_cfg_minhash_target(n, threshold,
    recall)`` returns (bands, rows_per_band); feed it as
    ``num_hashes=bands*rows_per_band, rows_per_band=rows_per_band`` and
    the wire catches >=threshold pairs at >=recall probability by the
    same 1-(1-s^r)^b math the batch tier certifies
    (``dedup_minhash_recall_eval``); batch-equivalence at a derived
    config is pinned by test. The signature UDF rejects ragged configs
    loudly.

    Shape: the replayed docs map through a STATELESS per-row signature
    (``ext.dedup.minhash_band_keys`` — one Arrow-batched UDF, because
    the batch pipeline's exploded+groupBy form would be a second
    stateful operator, which streaming forbids before
    ``applyInPandasWithState``), posexplode to (band_idx, band_key) rows,
    then ONE stateful pass keyed by band-key bucket. Docs with fewer
    than 3 words have no shingles and are out of scope on both sides
    (the ``dedup_minhash_lsh`` nonempty rule).

    Cost contract: band-key cardinality is ~_NUM_BANDS x distinct docs —
    3x the exact-dedup stream — so the stateful op is keyed by a crc32
    BUCKET of the band identity (``_NEARDUP_BUCKETS``), bounding Arrow
    invocations per micro-batch at the bucket count instead of the key
    count. The state width comes from ``state_width`` over the bucket
    count. Batch-oracle equality after the drain: batch index is a pure
    function of (doc_id rank, ceil(n/8)), so the oracle reconstructs
    'band seen earlier' and 'lower id in batch' with two window minima
    over the banded keys, as for the exact-dedup stream; the bucketing
    is invisible to the oracle because it never changes a decision, only
    which invocation computes it."""
    from jp_qcew_spark.ext import dedup as D
    from jp_qcew_spark.queries.dedup import _NUM_HASHES, _ROWS_PER_BAND

    nh = _NUM_HASHES if num_hashes is None else num_hashes
    rpb = _ROWS_PER_BAND if rows_per_band is None else rows_per_band
    # The packed identity below lpads hex(band_idx) to 4 chars, and Spark's
    # lpad TRUNCATES longer input — >0xFFFF bands would silently collide
    # distinct band identities into one state key (wrong prior/keeper
    # decisions). Fail loudly instead.
    if nh // rpb > 0xFFFF:
        raise ValueError(
            f"stream_dedup_neardup: {nh // rpb} bands exceed the 2-byte "
            "packed band-index budget (65535); raise rows_per_band or "
            "widen the identity packing"
        )
    stream = replay_stream(spark, sf_dir, "documents")
    # Signature = ONE Arrow-batched UDF (ext.dedup.minhash_band_keys):
    # the batch pipeline's exploded+groupBy form is a streaming
    # aggregation (forbidden before the stateful op); its keys are
    # bit-identical (pinned by test). The replay source emits ONE
    # partition per micro-batch, so repartition FIRST to run the
    # signature at task parallelism. The band identity k is projected
    # ONCE (JVM unhex) and shared by the bucket derivation and the
    # stateful op's state keys: 18 packed bytes (2-byte band index + the
    # 16 md5 bytes), lossless, so the rewritten state carries few bytes.
    keyed = (
        stream.repartition(32)
        .select(
            "doc_id",
            F.posexplode(
                D.minhash_band_keys(F.col("text"), nh, rpb)
            ).alias("band_idx", "band_key"),
        )
        .select(
            "doc_id",
            F.unhex(
                F.concat_ws(
                    "",
                    F.lpad(F.hex(F.col("band_idx")), 4, "0"),
                    F.col("band_key"),
                )
            ).alias("k"),
        )
        .withColumn("bucket", F.crc32(F.col("k")) % _NEARDUP_BUCKETS)
    )
    out = keyed.groupBy("bucket").applyInPandasWithState(
        _neardup_fn,
        outputStructType=_NEARDUP_OUT,
        stateStructType=_NEARDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # width from the STATE-key space (the crc32 buckets, not the band
    # keys): a wire raising the bucket count derives a wider store
    sink = run_to_memory(
        out,
        "append",
        "sink_dedup_neardup",
        state_partitions=state_width(spark, _NEARDUP_BUCKETS),
    )
    folded = sink.groupBy("doc_id").agg(
        F.max("prior").alias("p"),
        F.max("lower_in_batch").alias("l"),
    )
    return folded.select(
        "doc_id",
        F.when(F.col("p") == 1, F.lit("dup_vs_seen"))
        .when(F.col("l") == 1, F.lit("dup_in_batch"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )


# --------------------------------------------------------------------------
# Streaming quality gate — online classifier scoring on the wire
# --------------------------------------------------------------------------


def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``quality_classifier_apply`` — the online shape
    of a crawl pipeline's quality gate: documents arrive as deterministic
    micro-batches (``DocReplayDataSource``), the TRAINED 257-weight model
    (``io.trained_artifact``-promoted, collected once on the driver) ships
    into an Arrow ``mapInPandas`` closure, and every arriving doc is
    scored map-side — **zero shuffles, zero state**: a linear classifier
    over hashed token counts is a pure per-row function once the model is
    a broadcastable constant, so unlike the dedup twins there is nothing
    to synchronize; the streaming and batch outputs are equal row-for-row
    by construction, and the oracle hash-checks exactly that.

    Scoring parity is bit-exact with the batch plan: tokens from an ASCII
    ``\\s+`` split of the space-trimmed lowered text (the
    ``ext.dedup.minhash_band_keys`` convention — Python ``re.ASCII``
    matches Java's ASCII ``\\s`` and ``strip(' ')`` matches Spark/DuckDB
    space-only ``trim``), buckets from the same md5 positional-hex as the
    batch feature hasher, margins as exact BIGINT micro-sums (bias at
    feature -1, count 1), keep = margin >= 0. Empty-after-trim docs are
    skipped exactly as the batch gate filters them.

    100 TB posture: the model is O(D) regardless of corpus; per-batch
    work is one repartition of the raw text (the replay source emits one
    partition per micro-batch — the widen-the-wire lesson) + one Arrow
    map stage; no state store, no aggregation, so throughput is pure map
    parallelism — this is the cheapest possible streaming operator shape
    and the right one for an online quality filter."""
    from jp_qcew_spark.queries.curation import _qc_weights_t

    ensure_session_confs(spark)
    weights = {
        int(r["feature_id"]): int(r["weight_micro"])
        for r in _qc_weights_t(spark, sf_dir).collect()
    }
    stream = replay_stream(spark, sf_dir, "documents")

    def score(batches):
        import hashlib
        import re

        import pandas as pd

        ws = re.compile(r"\s+", re.ASCII)
        hexd = "0123456789abcdef"
        bias = weights[-1]
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                st = text.strip(" ") if isinstance(text, str) else ""
                if not st:
                    continue  # the batch gate filters empty-after-trim
                m = bias
                for tok in ws.split(st.lower()):
                    h = hashlib.md5(tok.encode("utf-8")).hexdigest()
                    m += weights[
                        (hexd.index(h[30])) * 16 + hexd.index(h[31])
                    ]
                rows.append((int(doc_id), m, 1 if m >= 0 else 0))
            yield pd.DataFrame(
                rows, columns=["doc_id", "margin_micro", "keep"]
            )

    scored = stream.repartition(32).mapInPandas(
        score, "doc_id long, margin_micro long, keep long"
    )
    return run_to_memory(scored, "append", "sink_quality_gate")
