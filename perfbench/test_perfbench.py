"""Tests of the benchmark's own logic, plus a small smoke run.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import subprocess
import sys
from decimal import Decimal

import pytest

from perfbench import datagen, oracle
from perfbench.tracing import Span, percentile, self_times, tail_percentile


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0


def test_tail_percentile_needs_ten_beyond():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(20))) == (50.0, 9)
    assert tail_percentile(list(range(40)))[0] == 75.0
    assert tail_percentile(list(range(100)))[0] == 90.0
    assert tail_percentile(list(range(199)))[0] == 90.0
    assert tail_percentile(list(range(200)))[0] == 95.0
    assert tail_percentile(list(range(1000)))[0] == 99.0
    assert tail_percentile(list(range(10000)))[0] == 99.9


def test_result_hash_is_order_insensitive_and_normalized():
    rows = [(1, 0.1 + 0.2, "a"), (2, Decimal("1.5"), None)]
    same = [(Decimal("1.5"), None, 2), (0.30000000000000004, "a", 1)]
    h1 = oracle.result_hash(["k", "v", "s"], rows)
    h2 = oracle.result_hash(["v", "s", "k"], [(r[1], r[2], r[0]) for r in rows])
    assert h1 == h2
    assert h1 == oracle.result_hash(["v", "s", "k"], same)
    assert oracle.result_hash(["k", "v", "s"], rows[:1])[0] == 1
    assert h1 != oracle.result_hash(["k", "v", "s"], [(1, 0.31, "a"), rows[1]])
    tz = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    assert oracle.normalize(tz) == oracle.normalize(tz.replace(tzinfo=None))
    assert oracle.normalize(-0.0) == oracle.normalize(0.0)
    assert oracle.normalize([1.0000000001, 2.0]) == (1.0, 2.0)


def test_rows_close_matches_on_keys_with_a_float_tolerance():
    want = [(2015, 1, "5411", 10, 0.1 + 0.2), (2015, 2, "5411", 20, 1.5)]
    reordered = [(2015, 2, "5411", 20, 1.5), (2015, 1, "5411", 10, 0.3)]
    assert oracle.rows_close(reordered, want, keys=3)
    assert not oracle.rows_close(reordered[:1], want, keys=3)
    assert not oracle.rows_close([(2015, 2, "5411", 21, 1.5), reordered[1]], want, keys=3)
    assert not oracle.rows_close([(2015, 2, "5411", 20, 1.5001), reordered[1]], want, keys=3)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("op", None, 0.0, 10.0),
        Span("build", 0, 1.0, 4.0),
        Span("collect", 0, 3.0, 6.0),  # overlaps build: union is 1..6
        Span("probe", 0, 8.0, 12.0),  # clipped to the parent at 10
        Span("inner", 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx((10 - 5 - 2) * 1000)
    assert st["build"] == pytest.approx((3 - 1) * 1000)
    assert st["collect"] == pytest.approx(3 * 1000)
    assert st["inner"] == pytest.approx(1000)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = datagen.build_tables(5, 0.001, datagen.TABLE_ORDER)
    b = datagen.build_tables(5, 0.001, datagen.TABLE_ORDER)
    c = datagen.build_tables(6, 0.001, datagen.TABLE_ORDER)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    alone = datagen.build_tables(5, 0.001, ["lineitem"])
    assert list(alone) == ["lineitem"] and alone["lineitem"].equals(a["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["events"].num_rows == 1000
    s1 = datagen.write_qcew_corpus(str(tmp_path / "x"), 5, 30)
    s2 = datagen.write_qcew_corpus(str(tmp_path / "y"), 5, 30)
    assert s1 == s2 and s1["lines"] == 240
    with open(tmp_path / "x" / "2015" / "eqin20151.txt", "rb") as f1, \
            open(tmp_path / "y" / "2015" / "eqin20151.txt", "rb") as f2:
        assert f1.read() == f2.read()


def test_exits_nonzero_without_the_engine(tmp_path):
    here = os.path.dirname(os.path.abspath(__file__))
    os.symlink(here, tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analyst_session",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.fixture(scope="module")
def session():
    from perfbench import run

    spark = run.start_session()
    yield spark
    run.stop_session(spark)


def _small(name: str):
    from perfbench import workloads as w

    if name == "ingest_replay":
        return w.IngestReplayWorkload(lines_per_file=40, stream_sf=0.001, pass_seconds=1.0)
    wl = w.make(name)
    wl.sf = 0.001
    return wl


@pytest.mark.parametrize("name", ["ingest_replay", "analyst_session"])
def test_smoke_workload(session, tmp_path, name):
    """Prepare, warm, one untraced and one traced op per catalogue entry;
    every result must match its oracle and every metric must be present."""
    from perfbench import run
    from perfbench.tracing import Tracer

    wl = _small(name)
    wl.prepare(session, str(tmp_path / "data"), seed=3)
    assert all(o.ok for o in wl.warm(session))
    names = list(itertools.islice(wl.sequence(3), wl.pass_ops))
    assert names == list(itertools.islice(wl.sequence(3), wl.pass_ops))
    assert sorted(names) == sorted(set(names))  # one pass: every entry once
    ops = [wl.run_op(session, n, None) for n in names]
    tracer = Tracer(session)
    try:
        traced = [wl.run_op(session, n, tracer) for n in names]
    finally:
        tracer.close()
    assert all(o.ok for o in ops + traced), [o.error for o in ops + traced]
    e2e = run.end_to_end(ops, setup_s=1.0)
    assert set(e2e) == set(run.END_TO_END)
    for o in ops:
        o.floors = []
    scaled = run.end_to_end(ops, setup_s=1.0, ref_ms=100.0, floor_ms=25.0)
    assert scaled["short_op_p50_ms"] == pytest.approx(4 * e2e["short_op_p50_ms"])
    assert scaled["heavy_op_p50_ms"] == pytest.approx(2 * e2e["heavy_op_p50_ms"])
    assert scaled["setup_s"] == pytest.approx(2.0)
    assert scaled["ops_per_s"] == pytest.approx(e2e["ops_per_s"] / 2)
    if name == "ingest_replay":  # sink reads go by the sentinels next to them
        for o in ops:
            o.floors = [50.0]
        own = run.end_to_end(ops, setup_s=1.0, ref_ms=100.0, floor_ms=25.0)
        assert own["short_op_p50_ms"] == pytest.approx(2 * e2e["short_op_p50_ms"])
        assert own["heavy_op_p50_ms"] == pytest.approx(scaled["heavy_op_p50_ms"])
    assert set(run.traffic(tracer, wl.pass_ops)) == set(names)
    layers = run.per_layer(tracer, traced, wl.pass_ops, floors=[1.0, 1.0], rss_mb=1.0)
    assert set(layers) == set(run.PER_LAYER)
    assert layers["scheduler.jobs"] > 0
    if name == "ingest_replay":
        assert layers["streaming.batches"] > 0
        assert layers["etl.output_bytes"] > 0
        assert layers["storage.input_bytes_per_corpus_byte"] > 1.0


def test_benchmark_json_matches_the_metrics_printed():
    import json

    from perfbench import run
    from perfbench.workloads import WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
