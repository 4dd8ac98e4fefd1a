"""A custom STREAMING source in pure Python: deterministic event replay.

``sources/xlsx_datasource.py`` lifts a batch format into the Spark 4
Python DataSource API; this module does the same for the STREAMING side
(``pyspark.sql.datasource.SimpleDataSourceStreamReader``) — the API a
Python connector to any offset-addressable feed (HTTP cursor, queue,
changelog) would implement. The concrete source here replays an events
parquet in a deterministic global order as fixed-size micro-batches.
Streams open it through ``streaming.pipelines.replay_stream``, which
registers the source and loads it:

    stream = replay_stream(spark, sf_dir, "events", batch_rows=4096)

Offset contract (the part that makes a streaming source a streaming
source, Structured Streaming Programming Guide "fault tolerance
semantics"):

- the offset is the replay CURSOR ``{"idx": n}`` — rows are globally
  ordered by (ts, event_id), so every offset names one reproducible
  prefix of the feed;
- ``read(start)`` returns the next batch and the advanced offset;
- ``readBetweenOffsets(start, end)`` re-serves EXACTLY the rows of a
  previously planned batch — what the engine calls on recovery, and what
  makes the replay exactly-once: reprocessing a batch after a crash
  yields the same rows, never duplicates.

Scale posture, stated honestly: the Simple reader variant reads ON THE
DRIVER and ships rows to executors — the right tier for bounded replay /
dimension feeds / integration tests (this one exists so the engine's
streaming pipelines can be driven from a deterministic custom source).
A 100 TB feed implements ``DataSourceStreamReader`` instead — same
offset contract, but ``partitions(start, end)`` hands each executor an
offset RANGE to read in parallel; nothing in the pipeline on top
changes. The reference has no streaming surface at all
(data_process.py:1-275); this extends S-tier alongside S10's DuckDB
connector.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _cast_feed_table(t, schema: StructType):
    """Cast an Arrow table to the EXACT Arrow schema Spark's data-source
    runner derives from the declared source schema
    (``pyspark.sql.pandas.types.to_arrow_schema`` — the same call the
    tuple path's ``records_to_arrow_batches`` makes), so record batches
    served directly are byte-compatible with what the tuple conversion
    would have produced. Parquet naive ``timestamp[us]`` relabels to
    ``timestamp[us, tz=UTC]`` (value-preserving: the old row path's
    naive-datetime conversion interpreted wall times as UTC under the
    engine's pinned UTC session); a nanosecond feed truncates exactly as
    ``to_pylist``'s datetime conversion did."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    cols = []
    for field in target:
        col = t.column(field.name)
        if col.type != field.type:
            col = pc.cast(
                col,
                options=pc.CastOptions(
                    target_type=field.type, allow_time_truncate=True
                ),
            )
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=target).combine_chunks()


def parquet_files(path: str) -> list[str]:
    """The parquet files of a feed: ``path`` itself (a single file, as in
    the driver testdata) or the part files of a Spark-written directory."""
    import glob
    import os

    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


def footer_rows(path: str) -> int:
    """Row count of a parquet file or directory from its footers, with
    no data read and no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


class _ReplayReader(SimpleDataSourceStreamReader):
    """Replay a parquet feed in a deterministic total order as fixed-size
    micro-batches: the events table ordered by (ts, event_id). A subclass
    names another feed through ``_COLUMNS``, ``_ORDER`` and ``_FEED_SCHEMA``."""

    _COLUMNS = ["event_id", "ts", "user_id", "event_type", "value"]
    _ORDER = [("ts", "ascending"), ("event_id", "ascending")]
    _FEED_SCHEMA = _SCHEMA

    def __init__(self, options: dict) -> None:
        self._path = options["path"]
        self._batch_opt = options.get("batch_rows", "auto")
        self._batch: int | None = None
        self._table = None

    def _batch_rows(self) -> int:
        """Micro-batch size. ``auto`` = ceil(n/8) of the feed (parquet
        metadata row counts, no data read): micro-batch COUNT, not size,
        is what the replay exercises, and every batch costs a fixed
        state-store + sink-commit overhead, so a constant batch size would
        make replay wall-clock scale with the feed. Pass an integer to pin
        it explicitly."""
        if self._batch is None:
            if self._batch_opt == "auto":
                self._batch = max(1, -(-footer_rows(self._path) // 8))
            else:
                self._batch = int(self._batch_opt)
        return self._batch

    def _feed(self):
        """Load and order the feed once per reader instance (driver side,
        by design of the Simple variant). ``_ORDER`` is a total order, so
        batch boundaries are deterministic across restarts. The feed stays
        an Arrow table end to end: ``read`` serves zero-copy RecordBatch
        slices, which the runner ships to the JVM as they are, and
        ``_cast_feed_table`` pins the exact Arrow schema Spark derives
        from the declared one."""
        if self._table is None:
            import pyarrow as pa
            import pyarrow.parquet as pq

            t = pa.concat_tables(
                pq.read_table(f, columns=self._COLUMNS)
                for f in parquet_files(self._path)
            ).sort_by(self._ORDER)
            self._table = _cast_feed_table(t, self._FEED_SCHEMA)
        return self._table

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def read(self, start: dict) -> tuple:
        tbl = self._feed()
        lo = start["idx"]
        hi = min(lo + self._batch_rows(), tbl.num_rows)
        return iter(tbl.slice(lo, hi - lo).to_batches()), {"idx": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        tbl = self._feed()
        return iter(
            tbl.slice(start["idx"], end["idx"] - start["idx"]).to_batches()
        )

    def commit(self, end: dict) -> None:
        pass  # nothing to prune: the feed is an immutable file


class EventReplayDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "eventreplay"

    def schema(self) -> StructType:
        return _SCHEMA

    def simpleStreamReader(self, schema: StructType) -> _ReplayReader:
        return _ReplayReader(self.options)


# --------------------------------------------------------------------------
# Partition-planned variant — executor-parallel reads (the 100 TB shape)
# --------------------------------------------------------------------------


def _shard_mod(uid, n: int):
    """``uid % n`` with Python's floored-modulo semantics as Arrow
    kernels (pyarrow has no modulo kernel; integer ``divide`` truncates,
    so correct the remainder's sign for negative ids — testdata ids are
    non-negative, but the semantics must match the Python ``%`` this
    replaces for ANY input)."""
    import pyarrow.compute as pc

    m = pc.subtract(uid, pc.multiply(pc.divide(uid, n), n))
    return pc.if_else(pc.less(m, 0), pc.add(m, n), m)


class _ShardedReplayReader(DataSourceStreamReader):
    """``DataSourceStreamReader`` variant of the replay source: the feed is
    hash-sharded by ``user_id % n_shards`` (the Kafka-partition shape), the
    offset is a PER-SHARD cursor vector ``{"0": n0, "1": n1, ...}``, and
    ``partitions(start, end)`` hands each executor one (shard, lo, hi)
    range to read IN PARALLEL — the driver never touches row data. This is
    the scale path the Simple variant's docstring promises: same offset
    contract, parallel reads, per-shard deterministic (ts, event_id) order.

    Driver-side planning state is one pyarrow column scan for per-shard
    row counts (cached). A production connector against a real feed would
    instead ask the broker for end-offsets, and would advance
    ``latestOffset`` in bounded increments (the ReadLimit/admission-control
    analog); this bounded replay exposes the whole feed in one planned
    batch, so one micro-batch reads every shard in parallel and the drain
    (``run_to_memory``) ends once that batch commits.

    Executor reads re-filter the parquet by shard (fine for a bounded
    file; a real feed serves cursor reads) — the contract under test is
    exactly-once range semantics, not IO efficiency.
    """

    def __init__(self, options: dict) -> None:
        self._path = options["path"]
        self._n = int(options.get("n_shards", 4))
        self._counts: dict[str, int] | None = None

    def _shard_counts(self) -> dict[str, int]:
        if self._counts is None:
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            uid = pq.read_table(self._path, columns=["user_id"])["user_id"]
            if uid.null_count:
                # fail loudly, matching the replaced Python row-loop's
                # TypeError on None % n (ADVICE r14): a null id has no
                # shard, and silently dropping it would violate the
                # exactly-once contract the source exists to prove
                raise ValueError(
                    "eventreplay_sharded: feed contains NULL user_id "
                    f"({uid.null_count} rows) — every row must be "
                    "shardable for the per-shard cursor offsets to "
                    "cover the feed exactly once"
                )
            counts = dict.fromkeys((str(s) for s in range(self._n)), 0)
            vc = pc.value_counts(_shard_mod(uid, self._n).combine_chunks())
            for entry in vc.to_pylist():
                counts[str(entry["values"])] = entry["counts"]
            self._counts = counts
        return self._counts

    def initialOffset(self) -> dict:
        return {str(s): 0 for s in range(self._n)}

    def latestOffset(self) -> dict:
        return dict(self._shard_counts())

    def partitions(self, start: dict, end: dict):
        parts = []
        for s in sorted(start, key=int):
            lo, hi = start[s], end[s]
            if hi > lo:
                parts.append(
                    InputPartition((self._path, self._n, int(s), lo, hi))
                )
        return parts

    def read(self, partition: InputPartition):
        path, n, shard, lo, hi = partition.value
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(
            path, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        # Shard filter + (ts, event_id) sort as Arrow kernels, and the
        # served [lo:hi) slice leaves as RECORD BATCHES (guide §4.2): the
        # executor read worker forwards pyarrow.RecordBatch yields to the
        # JVM as-is, so no Python row objects are built at all — the r14
        # form still paid one converter call per field per served row.
        # Same rows in the same order: the filter is exact integer
        # arithmetic and (ts, event_id) is a total order (event_id
        # unique), so the pre-sort row order never matters.
        t = t.filter(pc.equal(_shard_mod(t["user_id"], n), shard)).sort_by(
            [("ts", "ascending"), ("event_id", "ascending")]
        )
        yield from _cast_feed_table(t.slice(lo, hi - lo), _SCHEMA).to_batches()

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class EventReplayShardedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "eventreplay_sharded"

    def schema(self) -> StructType:
        return _SCHEMA

    def streamReader(self, schema: StructType) -> _ShardedReplayReader:
        return _ShardedReplayReader(self.options)


# --------------------------------------------------------------------------
# Document replay — the ingest feed for streaming dedup
# --------------------------------------------------------------------------

_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


class _DocReplayReader(_ReplayReader):
    """Replay the documents table in doc_id order — the crawl-ingest feed
    ``stream_dedup_incremental`` drains. doc_id is unique, so every batch
    boundary is deterministic and ORACLE-DERIVABLE: batch index of a doc
    = rank(doc_id) // batch_rows, which a window function reproduces."""

    _COLUMNS = ["doc_id", "text"]
    _ORDER = [("doc_id", "ascending")]
    _FEED_SCHEMA = _DOC_SCHEMA


class DocReplayDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "docreplay"

    def schema(self) -> StructType:
        return _DOC_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> _DocReplayReader:
        return _DocReplayReader(self.options)


# Executors must never need this package on their import path (the round
# driver can run from any cwd): the DataSource classes cross the
# JVM→Python-worker boundary inside the streaming plan, so ship every
# closure in this module self-contained — same rule as streaming/pipelines.
import sys as _sys  # noqa: E402

from pyspark import cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
