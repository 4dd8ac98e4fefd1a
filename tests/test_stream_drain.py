"""The bounded stream drain (streaming/pipelines.py::run_to_memory): it ends
on the feed's last offset whatever the reader's pace or batch count, and it
leaves the caller's session conf as it found it."""

from __future__ import annotations

import os
import sys
import threading
import time

import pyarrow.parquet as pq
from pyspark import cloudpickle
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from jp_qcew_spark.sources.stream_replay import EventReplayDataSource, _ReplayReader
from jp_qcew_spark.streaming.pipelines import run_to_memory
from tests.conftest import SF_SMOKE

EVENTS = os.path.join(SF_SMOKE, "events.parquet")

# the slow source below runs in Spark's Python workers, which cannot import
# this test module
cloudpickle.register_pickle_by_value(sys.modules[__name__])


class _SlowReplayReader(_ReplayReader):
    """The events replay with every ``read`` slowed well past the 2 x 100 ms
    idle window a timing-based drain would stop on."""

    def read(self, start: dict) -> tuple:
        time.sleep(0.3)
        return super().read(start)


class _SlowReplayDataSource(EventReplayDataSource):
    @classmethod
    def name(cls) -> str:
        return "eventreplay_slow"

    def simpleStreamReader(self, schema):
        return _SlowReplayReader(self.options)


class _Progress(StreamingQueryListener):
    """Records each data batch's input rows and state widths, and the
    caller's shuffle width as read while the batch's progress is handled."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._lock = threading.Lock()
        self.batches: list[tuple[int, list[int], str]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows == 0:
            return
        width = [op.numShufflePartitions for op in p.stateOperators]
        conf = self._spark.conf.get("spark.sql.shuffle.partitions")
        with self._lock:
            self.batches.append((p.numInputRows, width, conf))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _drain(spark, source, batch_rows: int, **kw):
    """Drain the per-event_type counts of one replay source; return the
    sink's total count and the listener's per-batch records."""
    spark.dataSource.register(source)
    stream = (
        spark.readStream.format(source.name())
        .option("path", EVENTS)
        .option("batch_rows", str(batch_rows))
        .load()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    listener = _Progress(spark)
    spark.streams.addListener(listener)
    try:
        sink = run_to_memory(stream, "complete", f"sink_drain_{source.name()}", **kw)
        total = sink.agg(F.sum("n")).first()[0]
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    return total, listener.batches


def _n_events() -> int:
    return pq.ParquetFile(EVENTS).metadata.num_rows


def test_drain_outlasts_a_slow_reader(spark):
    """Each read sleeps 300 ms: the drain still lands every feed row,
    because it ends on the feed's last offset, not on idle time."""
    n = _n_events()
    total, batches = _drain(spark, _SlowReplayDataSource, -(-n // 4))
    assert total == n
    assert len(batches) == 4


def test_drain_takes_every_simple_reader_batch(spark):
    """A Simple reader's latest offset is only the next prefetched batch, so
    an availableNow trigger would keep the first of these 10 batches; the
    drain processes all of them."""
    n = _n_events()
    total, batches = _drain(spark, EventReplayDataSource, n // 10)
    assert total == n
    assert len(batches) == 10
    assert sum(rows for rows, _, _ in batches) == n


def test_drain_restores_shuffle_width_after_start(spark):
    """The caller's ``spark.sql.shuffle.partitions`` is back to its own
    value while the drain still runs (the query cloned the session in
    ``start()``), and the state store keeps ``state_partitions``."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "5"
    n = _n_events()
    total, batches = _drain(
        spark, _SlowReplayDataSource, -(-n // 3), state_partitions=5
    )
    assert total == n
    assert len(batches) == 3
    assert {conf for _, _, conf in batches} == {before}
    assert {w for _, widths, _ in batches for w in widths} == {5}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
