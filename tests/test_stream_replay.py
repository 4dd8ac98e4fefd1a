"""Offset contract of the custom Python streaming source
(sources/stream_replay.py): deterministic batch planning, exactly-once
re-serve on recovery, clean end-of-feed behavior."""

from __future__ import annotations

import os

from jp_qcew_spark.sources.stream_replay import _ReplayReader
from tests.conftest import SF_SMOKE

SF = os.path.join(SF_SMOKE, "events.parquet")


def _reader(batch=100):
    return _ReplayReader({"path": SF, "batch_rows": str(batch)})


def _rows(batch_iter):
    """Flatten a reader's RecordBatch iterator (the r15 Arrow transport —
    Spark's data-source runner forwards pyarrow.RecordBatch yields to the
    JVM as-is) into the plain row tuples the pre-r15 readers served, with
    timestamps normalized back to the naive datetimes the row path carried
    (the Arrow schema pins tz=UTC; values are identical instants)."""
    import datetime

    out = []
    for rb in batch_iter:
        for row in zip(*(rb.column(i).to_pylist() for i in range(rb.num_columns))):
            out.append(
                tuple(
                    v.replace(tzinfo=None)
                    if isinstance(v, datetime.datetime)
                    else v
                    for v in row
                )
            )
    return out


def test_batches_partition_the_feed_in_order():
    r = _reader(100)
    off = r.initialOffset()
    assert off == {"idx": 0}
    seen, n_batches = [], 0
    while True:
        it, nxt = r.read(off)
        rows = _rows(it)
        if not rows:
            assert nxt == off  # end of feed: offset must not advance
            break
        assert len(rows) <= 100
        assert nxt["idx"] == off["idx"] + len(rows)
        seen += rows
        off = nxt
        n_batches += 1
    assert n_batches >= 2  # the feed actually micro-batched
    # global (ts, event_id) order across batch boundaries
    keys = [(row[1], row[0]) for row in seen]
    assert keys == sorted(keys)
    # no loss, no dups
    assert len({row[0] for row in seen}) == len(seen)


def test_read_between_offsets_reserves_exactly():
    """Recovery path: re-reading a planned batch yields bit-identical
    rows — the exactly-once guarantee the streaming engine relies on."""
    r = _reader(64)
    it, nxt = r.read({"idx": 64})
    planned = _rows(it)
    assert planned
    replayed = _rows(_reader(64).readBetweenOffsets({"idx": 64}, nxt))
    assert replayed == planned


def test_quiescence_drain_surfaces_source_errors(spark):
    """A query that dies before quiescing must surface ITS error promptly,
    not a 120 s TimeoutError (review finding: the poll loop previously
    never checked query liveness)."""
    import time

    import pytest

    from jp_qcew_spark.queries.streaming import q_stream_python_source

    t0 = time.time()
    with pytest.raises(Exception) as ei:
        q_stream_python_source(spark, "/nonexistent/dir")
    assert time.time() - t0 < 60, "error took too long to surface"
    assert not isinstance(ei.value, TimeoutError)


def test_arrow_feed_prep_matches_row_loop_reference():
    """r14/r15 vectorization (guide §4.2): the Arrow feed preparation AND
    the r15 RecordBatch transport must be row- and order-identical to the
    Python row-loop they replaced, for all three sites — events feed, doc
    feed, and the sharded reader's per-partition filter+sort+counts."""
    import pyarrow.parquet as pq

    from jp_qcew_spark.sources.stream_replay import (
        _DocReplayReader,
        _ShardedReplayReader,
    )

    # events feed: reference = to_pylist + list.sort (the pre-r14 code)
    t = pq.read_table(
        SF, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    ref = t.to_pylist()
    ref.sort(key=lambda r: (r["ts"], r["event_id"]))
    ref = [
        (r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"])
        for r in ref
    ]
    assert _rows(_reader()._feed().to_batches()) == ref

    # doc feed
    doc_path = os.path.join(SF_SMOKE, "documents.parquet")
    dref = pq.read_table(doc_path, columns=["doc_id", "text"]).to_pylist()
    dref.sort(key=lambda r: r["doc_id"])
    dref = [(r["doc_id"], r["text"]) for r in dref]
    assert _rows(_DocReplayReader({"path": doc_path})._feed().to_batches()) == dref

    # sharded reader: per-shard counts and served rows
    n = 4
    r = _ShardedReplayReader({"path": SF, "n_shards": str(n)})
    counts_ref = {str(s): 0 for s in range(n)}
    for row in t.to_pylist():
        counts_ref[str(row["user_id"] % n)] += 1
    assert r._shard_counts() == counts_ref
    from pyspark.sql.datasource import InputPartition

    for shard in range(n):
        sref = [row for row in t.to_pylist() if row["user_id"] % n == shard]
        sref.sort(key=lambda x: (x["ts"], x["event_id"]))
        sref = [
            (
                x["event_id"],
                x["ts"],
                x["user_id"],
                x["event_type"],
                x["value"],
            )
            for x in sref
        ]
        lo, hi = 3, len(sref) - 2  # a strict sub-range exercises the slice
        got = _rows(r.read(InputPartition((SF, n, shard, lo, hi))))
        assert got == sref[lo:hi]


def test_feed_schema_matches_runner_expectation():
    """The served RecordBatches must carry the EXACT Arrow schema Spark's
    data-source runner derives from the declared source schema — that is
    what makes the direct-batch path byte-compatible with the tuple
    conversion it replaces (plan_data_source_read.records_to_arrow_batches
    validates names/count only, so a type drift would silently reach the
    JVM)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from jp_qcew_spark.sources.stream_replay import _DOC_SCHEMA, _SCHEMA

    tbl = _reader()._feed()
    assert tbl.schema == to_arrow_schema(_SCHEMA)
    doc_path = os.path.join(SF_SMOKE, "documents.parquet")
    from jp_qcew_spark.sources.stream_replay import _DocReplayReader

    assert (
        _DocReplayReader({"path": doc_path})._feed().schema
        == to_arrow_schema(_DOC_SCHEMA)
    )


def test_sharded_null_user_id_fails_loudly():
    """ADVICE r14: a NULL user_id has no shard — the counts pass must
    raise (matching the replaced row-loop's TypeError), never silently
    drop rows from the offset ledger."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from jp_qcew_spark.sources.stream_replay import _ShardedReplayReader

    t = pq.read_table(SF).slice(0, 4)
    uid = t.column("user_id").to_pylist()
    uid[1] = None
    t = t.set_column(
        t.schema.get_field_index("user_id"),
        "user_id",
        pa.array(uid, type=pa.int64()),
    )
    bad = os.path.join("/tmp", "events_null_uid.parquet")
    pq.write_table(t, bad)
    with pytest.raises(ValueError, match="NULL user_id"):
        _ShardedReplayReader({"path": bad, "n_shards": "4"})._shard_counts()


def test_shard_mod_matches_python_semantics():
    """_shard_mod must equal Python's %, including for negative ids."""
    import pyarrow as pa

    from jp_qcew_spark.sources.stream_replay import _shard_mod

    vals = [-7, -4, -1, 0, 1, 3, 4, 5, 123456789]
    for n in (3, 4, 7):
        got = _shard_mod(pa.chunked_array([vals]), n).to_pylist()
        assert got == [v % n for v in vals]


def test_cep_fn_carries_state_across_batches():
    """The CEP matcher's whole point is the 1-event lookahead surviving a
    micro-batch boundary: a click that ENDS batch 1 must pair with the
    purchase that OPENS batch 2 (same user, within 30 min), and the
    in-batch path must match identically."""
    import pandas as pd

    from jp_qcew_spark.streaming.pipelines import _cep_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, tuple(v)

    def mk(rows):
        return pd.DataFrame(
            {
                "user_id": [7] * len(rows),
                "event_id": [r[0] for r in rows],
                "ts": pd.to_datetime([r[1] for r in rows], unit="s"),
                "event_type": [r[2] for r in rows],
                "value": [r[3] for r in rows],
            }
        )

    st = FakeState()
    # batch 1: view then click (click is the LAST event of the batch)
    out1 = pd.concat(_cep_fn((7,), iter([mk([(1, 100, "view", 0.0),
                                             (2, 200, "click", 0.0)])]), st))
    assert len(out1) == 0 and st.get[0] == "click"
    # batch 2 opens with the purchase 10 min later -> cross-batch match
    out2 = pd.concat(_cep_fn((7,), iter([mk([(3, 800, "purchase", 9.5)])]), st))
    assert len(out2) == 1
    assert out2.iloc[0]["click_ts_us"] == 200 * 1_000_000
    assert out2.iloc[0]["purchase_value"] == 9.5
    # batch 3: purchase again — NOT adjacent to a click anymore, no match;
    # and a click followed by a too-late purchase (>30 min) doesn't match
    out3 = pd.concat(_cep_fn((7,), iter([mk([
        (4, 900, "purchase", 1.0),
        (5, 1000, "click", 0.0),
        (6, 1000 + 1801, "purchase", 2.0),
    ])]), st))
    assert len(out3) == 0


def test_cep_sequence_reads_a_part_file_directory(spark, tmp_path):
    """``stream_cep_sequence`` sizes its micro-batches from the footers of
    ``events.parquet``, which may be one file or a directory of part
    files: a two-part directory gives the same rows as a one-file copy."""
    import shutil

    import pyarrow.parquet as pq

    from jp_qcew_spark.streaming.pipelines import stream_cep_sequence

    one, two = tmp_path / "one", tmp_path / "two" / "events.parquet"
    one.mkdir()
    two.mkdir(parents=True)
    shutil.copy(SF, one / "events.parquet")
    t = pq.read_table(SF)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), two / "part-00000.parquet")
    pq.write_table(t.slice(half), two / "part-00001.parquet")
    got = [
        sorted(tuple(r) for r in stream_cep_sequence(spark, str(d)).collect())
        for d in (one, two.parent)
    ]
    assert got[0] and got[1] == got[0]
