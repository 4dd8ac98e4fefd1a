"""The benchmark's workloads.

Each workload prepares seeded inputs and their expected results, warms
the session, yields a seeded sequence of operation names in passes (each
pass runs every catalogue entry once, in a seeded order), and runs one
operation at a time (one closed-loop client). An operation is timed in
one or two parts, each tagged ``short`` or ``heavy``; the part classes
feed ``short_op_p50_ms`` and ``heavy_op_p50_ms``.
"""

from __future__ import annotations

import itertools
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

import duckdb
from jp_qcew_spark.io import TABLES, load_table
from jp_qcew_spark.operators.etl import run_etl
from jp_qcew_spark.operators.naics import naics4_aggregate
from jp_qcew_spark.queries import all_oracles, all_queries
from jp_qcew_spark.sources.fixed_width import read_qcew_text

from perfbench import datagen, oracle
from perfbench.tracing import Tracer, catalyst_phases, floor_ms, group_counters

SHORT, HEAVY = "short", "heavy"


@dataclass
class Op:
    """One completed operation."""

    name: str
    seconds: float = 0.0
    rows_in: int = 0
    parts: list[tuple[str, float]] = field(default_factory=list)
    ok: bool = True
    error: str = ""
    #: floor sentinels run next to the op's short parts
    floors: list[float] = field(default_factory=list)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class QueryWorkload:
    """Registry queries (batch or stream consumers) over seeded tables,
    each result hashed against its DuckDB oracle."""

    def __init__(self, name: str, sf: float, catalogue: dict[str, str],
                 pass_seconds: float, stream: bool = False, warm_passes: int = 1) -> None:
        self.name = name
        self.warm_passes = warm_passes
        #: a pass's nominal length on a box at the reference floor
        self.pass_seconds = pass_seconds
        self.sf = sf
        self.catalogue = catalogue
        self.stream = stream
        self.build_span = "streaming.drain" if stream else "queries.build"
        queries, oracles = all_queries(), all_oracles()
        self.fns = {n: queries[n] for n in catalogue}
        self.sql = {n: oracles[n] for n in catalogue}
        self.tables = {
            n: [t for t in TABLES if re.search(rf"\b{t}\b", self.sql[n])]
            for n in catalogue
        }
        #: ops per pass; traced layer totals cover the first pass
        self.pass_ops = len(catalogue)

    def prepare(self, spark, root: str, seed: int) -> dict:
        needed = sorted({t for ts in self.tables.values() for t in ts})
        rows = datagen.write_tables(root, seed, self.sf, needed)
        con = oracle.connect(root)
        try:
            self.expected = {n: oracle.duckdb_hash(con, s) for n, s in self.sql.items()}
        finally:
            con.close()
        self.sf_dir = root
        self.rows_in = {n: sum(rows[t] for t in ts) for n, ts in self.tables.items()}
        return {"sf": self.sf, "table_rows": rows}

    def warm(self, spark) -> list[Op]:
        """Run every catalogue entry ``warm_passes`` times, reading a
        stream consumer's sink once; a failure here is fatal."""
        ops = [self.run_op(spark, n, None, sink_reads=1)
               for _ in range(self.warm_passes) for n in self.catalogue]
        for op in ops:
            if not op.ok:
                raise RuntimeError(f"warm-up of {op.name} failed: {op.error}")
        return ops

    def sequence(self, seed: int):
        """Passes over the catalogue, each in a seeded order: every entry
        gets the same number of samples, and an entry repeats back to back
        when one pass ends with the entry the next one starts with."""
        return passes(f"{self.name}-{seed}", list(self.catalogue))

    def run_op(self, spark, name: str, tracer: Tracer | None,
               sink_reads: int | None = None) -> Op:
        op = Op(name, rows_in=self.rows_in[name])
        fn = self.fns[name]
        sink_reads = (sink_reads or SINK_READS) if self.stream else 1
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = fn(spark, self.sf_dir)
                build_s = time.perf_counter() - t0
                rows, reads = self._collect(df, sink_reads, op.floors, spark)
            else:
                with tracer.op(name) as rec:
                    with tracer.span(self.build_span, group=True) as b:
                        df = fn(spark, self.sf_dir)
                    with tracer.span("queries.collect", group=True):
                        rows, reads = self._collect(df, sink_reads)
                    build_s = b.end - b.start
                    with tracer.span("io.probe"):
                        for t in self.tables[name]:
                            with tracer.span("io.load_table", group="probe"):
                                load_table(spark, self.sf_dir, t)
                    rec.add(catalyst_phases(df))
                    tracer.collect_counters(rec, stream=self.stream)
            got = oracle.result_hash(df.columns, rows)
        except Exception as e:  # noqa: BLE001 - an op failure is counted, not fatal
            op.ok, op.error = False, f"{type(e).__name__}: {e}"[:300]
            return op
        if got != self.expected[name]:
            op.ok, op.error = False, f"hash mismatch: {got} != {self.expected[name]}"
        op.seconds = build_s + sum(reads)
        if self.stream:
            op.parts = [(HEAVY, build_s)] + [(SHORT, r) for r in reads]
        else:
            op.parts = [(self.catalogue[name], op.seconds)]
        return op

    def _collect(self, df, n: int, floors: list[float] | None = None,
                 spark=None) -> tuple[list, list[float]]:
        """``df.collect()`` ``n`` times, timed (a stream consumer's sink
        reads are the short samples of a replay). Given ``floors``, a
        floor sentinel runs after each sink read and is appended there, so
        the reads are scaled by the floor of the same seconds."""
        times = []
        for _ in range(n):
            t0 = time.perf_counter()
            rows = df.collect()
            times.append(time.perf_counter() - t0)
            if self.stream and floors is not None:
                floors.append(floor_ms(spark))
        return rows, times


class IngestWorkload:
    """Fixed-width QCEW corpus -> ``run_etl`` into a fresh directory ->
    ``naics4_aggregate(...).collect()``; one heavy part."""

    name = "qcew_ingest"

    def __init__(self, lines_per_file: int) -> None:
        self.lines_per_file = lines_per_file
        self.n = 0

    def prepare(self, spark, root: str, seed: int) -> dict:
        self.root = root
        self.corpus = datagen.write_qcew_corpus(
            os.path.join(root, "corpus"), seed, self.lines_per_file
        )
        self.glob = os.path.join(root, "corpus", "*", "*.txt")
        return {"corpus": self.corpus}

    def warm(self, spark) -> list[Op]:
        op = self.run_op(spark, self.name, None)
        if not op.ok:
            raise RuntimeError(f"warm-up ingest failed: {op.error}")
        return [op]

    def run_op(self, spark, name: str, tracer: Tracer | None) -> Op:
        self.n += 1
        out = os.path.join(self.root, f"out{self.n}")
        op = Op(name, rows_in=self.corpus["nonblank_lines"])
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = run_etl(spark, self.glob, out)
                rows = naics4_aggregate(df).collect()
                op.seconds = time.perf_counter() - t0
            else:
                with tracer.op(name) as rec:
                    with tracer.span("etl.run", group=True) as e:
                        df = run_etl(spark, self.glob, out)
                    with tracer.span("naics.aggregate", group=True) as a:
                        rows = naics4_aggregate(df).collect()
                    op.seconds = a.end - e.start
                    with tracer.span("sources.read", group="probe"):
                        read_qcew_text(spark, self.glob).count()
                    tracer.collect_counters(rec)
                    etl_in = group_counters(spark, [rec.groups["etl.run"]])
                    rec.add({
                        "etl.input_bytes": etl_in.get("storage.input_bytes", 0.0),
                        "etl.output_bytes": _dir_bytes(out),
                        "etl.corpus_bytes": self.corpus["bytes"],
                    })
            problems = self._check(out, [tuple(r[c] for c in AGG_COLUMNS) for r in rows])
        except Exception as e:  # noqa: BLE001 - an op failure is counted, not fatal
            op.ok, op.error = False, f"{type(e).__name__}: {e}"[:300]
            return op
        finally:
            shutil.rmtree(out, ignore_errors=True)
        op.parts = [(HEAVY, op.seconds)]
        if problems:
            op.ok, op.error = False, "; ".join(problems)
        return op

    def _check(self, out: str, got: list[tuple]) -> list[str]:
        """Written rows == non-blank corpus lines, and the Spark aggregate
        equals a DuckDB aggregate over the written Parquet: keys and
        integers exactly, doubles to a relative 1e-9 (the two engines sum
        thousands of doubles in different orders, so a fixed number of
        decimals can round differently)."""
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW qcew AS SELECT * FROM "
                f"read_parquet('{out}/*/*/*.parquet', hive_partitioning=1)"
            )
            problems = []
            written = con.sql("SELECT count(*) FROM qcew").fetchone()[0]
            if written != self.corpus["nonblank_lines"]:
                problems.append(f"wrote {written} rows, expected {self.corpus['nonblank_lines']}")
            want = con.sql(NAICS_ORACLE).fetchall()
            if not oracle.rows_close(got, want, keys=3):
                problems.append(f"naics aggregate differs from DuckDB ({len(got)} vs {len(want)} rows)")
            return problems
        finally:
            con.close()


AGG_COLUMNS = [
    "year", "qtr", "naics4", "total_wages", "total_employment", "dummy",
    "fondo_contributions", "medicare_contributions", "ssn_contributions",
]
#: The NAICS-4 aggregate in DuckDB, in the same double arithmetic as Spark
#: (long sums times double rates).
NAICS_ORACLE = """
WITH base AS (
  SELECT year, qtr, substr(naics_code, 1, 4) AS naics4,
         (first_month_employment + second_month_employment
          + third_month_employment) / 3.0 AS total_employment,
         total_wages
  FROM qcew WHERE substr(naics_code, 1, 4) <> ''
)
SELECT year, qtr, naics4,
       CAST(sum(total_wages) AS BIGINT) AS total_wages,
       avg(total_employment) AS total_employment,
       count(*) AS dummy,
       CAST(sum(total_wages) AS DOUBLE) * 0.014::DOUBLE AS fondo_contributions,
       CAST(sum(total_wages) AS DOUBLE) * 0.0145::DOUBLE AS medicare_contributions,
       CAST(sum(total_wages) AS DOUBLE) * 0.062::DOUBLE AS ssn_contributions
FROM base GROUP BY year, qtr, naics4 HAVING count(*) > 4
"""


class IngestReplayWorkload:
    """Both write paths, alternating: a registered stream consumer and the
    QCEW ingest op (heavy: the drain and the ETL write with its aggregate;
    short: the reads of the stream's memory sink)."""

    name = "ingest_replay"

    def __init__(self, lines_per_file: int, stream_sf: float, pass_seconds: float) -> None:
        self.ingest = IngestWorkload(lines_per_file)
        cat = {n: HEAVY for n in STREAM_CONSUMERS}
        self.replay = QueryWorkload(self.name, stream_sf, cat, pass_seconds, stream=True)
        self.pass_seconds = pass_seconds
        self.names = [*cat, self.ingest.name]
        #: ops per pass; traced layer totals cover the first pass
        self.pass_ops = len(self.names)

    def prepare(self, spark, root: str, seed: int) -> dict:
        return self.ingest.prepare(spark, os.path.join(root, "qcew"), seed) | \
            self.replay.prepare(spark, os.path.join(root, "tables"), seed)

    def warm(self, spark) -> list[Op]:
        return self.ingest.warm(spark) + self.replay.warm(spark)

    def sequence(self, seed: int):
        """The same order in every pass, stream drain first: with two ops
        a pass, a seeded order moved the aggregates' median by about 20%
        between seeds with the ingest first in the window and the rest."""
        return itertools.cycle(self.names)

    def run_op(self, spark, name: str, tracer: Tracer | None) -> Op:
        part = self.ingest if name == self.ingest.name else self.replay
        return part.run_op(spark, name, tracer)


ANALYST_SHORT = ["cast_nullsafe", "mode_keying", "rank_dense"]
ANALYST_HEAVY = ["quantiles_exact"]
#: memory-sink reads per stream op: in-memory, so bound by the per-job
#: fixed cost the floor measures (the aggregate over freshly written,
#: partitioned Parquet also waits on file listing and I/O, which it does
#: not). A read takes 40-100 ms and a pause can double one, so the
#: median is taken over 21, each next to a floor sentinel.
SINK_READS = 21
#: run_to_memory drain with applyInPandasWithState state; the
#: run_to_quiescence consumers cost 6-9 s per op and 13-16 s cold on a
#: 4-core box, too few samples per run to be steady (README)
STREAM_CONSUMERS = ["stream_stateful_user_stats"]
WORKLOADS = ("ingest_replay", "analyst_session")


def passes(key: str, names: list[str]):
    """Endless passes over ``names``, each a permutation seeded by ``key``."""
    rng = random.Random(key)
    while True:
        yield from rng.sample(names, len(names))


def make(name: str):
    if name == "ingest_replay":
        return IngestReplayWorkload(lines_per_file=1500, stream_sf=0.1, pass_seconds=8.0)
    if name == "analyst_session":
        cat = {n: SHORT for n in ANALYST_SHORT} | {n: HEAVY for n in ANALYST_HEAVY}
        return QueryWorkload(name, 0.1, cat, pass_seconds=4.0, warm_passes=2)
    raise ValueError(f"unknown workload {name!r}")
