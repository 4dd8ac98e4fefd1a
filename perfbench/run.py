"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. One process, one
closed-loop client, Spark ``local[nproc]``. All scratch files go under
``.perfbench/`` in the working directory. Prints a readable report, then as
its last line one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). The design is described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
SETUP_ROUNDS = 3
#: sentinel runs after set-up, and spread over the window's ops
FLOOR_RUNS = 5
FLOOR_RUNS_WINDOW = 12
#: time-based end-to-end metrics are reported at this ``session.floor_ms``
REF_FLOOR_MS = 150.0

#: end-to-end metrics: name -> unit
END_TO_END = {
    "setup_s": "s",
    "short_op_p50_ms": "ms",
    "heavy_op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
}

#: per-layer metrics: name -> unit; totals over the traced profile prefix
PER_LAYER = {
    "session.floor_ms": "ms",
    "session.floor_spread": "ratio",
    "memory.peak_rss_mb": "MB",
    "io.load_table_ms": "ms",
    "queries.build_ms": "ms",
    "queries.collect_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.skipped_stages": "count",
    "scheduler.tasks": "count",
    "scheduler.stage_wall_ms": "ms",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.cpu_per_run": "ratio",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "sources.read_ms": "ms",
    "storage.input_bytes_per_corpus_byte": "ratio",
    "etl.run_ms": "ms",
    "etl.output_bytes": "bytes",
    "etl.bytes_out_per_in": "ratio",
    "naics.aggregate_ms": "ms",
    "streaming.drain_ms": "ms",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.batch_ms": "ms",
    "streaming.idle_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "self.op_ms": "ms",
    "self.queries.build_ms": "ms",
    "self.queries.collect_ms": "ms",
    "self.streaming.drain_ms": "ms",
    "self.etl.run_ms": "ms",
    "self.naics.aggregate_ms": "ms",
    "self.io.probe_ms": "ms",
    "self.trace.read_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.short_op_p50_ms": "ms",
    "trace.heavy_op_p50_ms": "ms",
    "trace.ops": "count",
}
#: span name -> per-layer total it feeds
SPAN_TOTALS = {
    "io.load_table": "io.load_table_ms",
    "queries.build": "queries.build_ms",
    "queries.collect": "queries.collect_ms",
    "sources.read": "sources.read_ms",
    "etl.run": "etl.run_ms",
    "naics.aggregate": "naics.aggregate_ms",
    "streaming.drain": "streaming.drain_ms",
}
#: spans that do the work an untraced op also does
WORK_SPANS = ("queries.build", "queries.collect", "streaming.drain", "etl.run",
              "naics.aggregate")
MAX_COUNTERS = ("streaming.state_rows", "streaming.state_memory_bytes")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """The engine's own session factory on local[nproc] with its default
    driver memory. Spark's scratch space, temp files and the stream drains'
    checkpoints are kept inside the working directory: the benchmark
    writes nowhere else (the engine's default checkpoint base is
    ``/dev/shm``; the README says what this changes)."""
    for sub in ("tmp", "spark-local", "ckpt"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_STREAM_CKPT"] = os.path.join(WORK, "ckpt")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    from jp_qcew_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - make sure the JVM is gone
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def spread(xs: list[float]) -> float:
    """Interquartile range over the median."""
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def environment(spark, workload: str) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "load_shape": "1 process, 1 closed-loop client",
        "workload": workload,
    }


def _median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def class_p50_ms(ops, scale: float = 1.0, ref_ms: float | None = None) -> dict[str, float]:
    """Per class, the median over operation names of each name's median
    part latency, so a seeded draw that repeats one name does not shift
    the class figure. Heavy parts are multiplied by the square root of
    ``scale``, short parts by ``scale``, or, for an op that ran floor
    sentinels next to its short parts, by ``ref_ms`` over their median."""
    by_key: dict[tuple[str, str], list[float]] = {}
    for o in ops:
        if o.ok:
            short = ref_ms / statistics.median(o.floors) if ref_ms and o.floors else scale
            for cls, s in o.parts:
                k = short if cls == "short" else math.sqrt(scale)
                by_key.setdefault((cls, o.name), []).append(s * 1000.0 * k)
    return {
        c: _median_or_zero([statistics.median(v) for (k, _), v in by_key.items() if k == c])
        for c in ("short", "heavy")
    }


def end_to_end(ops, setup_s: float, ref_ms: float | None = None,
               floor_ms: float | None = None) -> dict[str, float]:
    """End-to-end metrics over the successful ops of the timed window.

    Rates use per-operation-name medians (one pass over the names seen).
    With ``ref_ms``, times are reported at that reference floor (README,
    "Reported at a reference floor"); ``scale`` is ``ref_ms`` over the
    run's median floor ``floor_ms``. The short-class latency, which moves
    one to one with the floor, is multiplied by it (or by the floor of its
    own sentinels, see ``class_p50_ms``); the other times are multiplied,
    and the rates divided, by its square root."""
    by_name: dict[str, list] = {}
    for o in ops:
        if o.ok:
            by_name.setdefault(o.name, []).append(o)
    med_s = {n: statistics.median(o.seconds for o in os_) for n, os_ in by_name.items()}
    busy = sum(med_s.values())
    rows = sum(os_[0].rows_in for os_ in by_name.values())
    scale = ref_ms / floor_ms if ref_ms else 1.0
    p50 = class_p50_ms(ops, scale, ref_ms)
    half = math.sqrt(scale)
    return {
        "setup_s": setup_s * half,
        "short_op_p50_ms": p50["short"],
        "heavy_op_p50_ms": p50["heavy"],
        "ops_per_s": len(med_s) / busy / half if busy else 0.0,
        "rows_per_s": rows / busy / half if busy else 0.0,
    }


def per_layer(tracer, ops, profile_ops: int, floors: list[float], rss_mb: float) -> dict[str, float]:
    """Per-layer totals over the first ``profile_ops`` traced ops (a fixed,
    seeded prefix, so counters repeat for a seed), plus tracing overhead
    and traced op latency over every traced op."""
    from perfbench.tracing import self_times

    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.floor_ms"] = statistics.median(floors)
    out["session.floor_spread"] = spread(floors)
    out["memory.peak_rss_mb"] = rss_mb
    prefix = tracer.ops[:profile_ops]
    for rec in prefix:
        for k, v in rec.counters.items():
            if k in MAX_COUNTERS:
                out[k] = max(out[k], v)
            elif k in out:
                out[k] += v
        for s in rec.spans:
            if s.name in SPAN_TOTALS:
                out[SPAN_TOTALS[s.name]] += s.ms
        for name, ms in self_times(rec.spans).items():
            key = f"self.{name}_ms"
            if key in out:
                out[key] += ms
    if out["executor.run_ms"]:
        out["executor.cpu_per_run"] = out["executor.cpu_ms"] / out["executor.run_ms"]
    corpus = sum(r.counters.get("etl.corpus_bytes", 0.0) for r in prefix)
    if corpus:
        etl_in = sum(r.counters.get("etl.input_bytes", 0.0) for r in prefix)
        out["storage.input_bytes_per_corpus_byte"] = etl_in / corpus
        out["etl.bytes_out_per_in"] = out["etl.output_bytes"] / corpus
    if out["streaming.drain_ms"]:
        out["streaming.idle_ms"] = out["streaming.drain_ms"] - out["streaming.batch_ms"]
    total = sum(r.spans[0].ms for r in tracer.ops)
    work = sum(s.ms for r in tracer.ops for s in r.spans if s.name in WORK_SPANS)
    out["trace.overhead_pct"] = 100.0 * (total - work) / work if work else 0.0
    p50 = class_p50_ms(ops)
    out["trace.short_op_p50_ms"] = p50["short"]
    out["trace.heavy_op_p50_ms"] = p50["heavy"]
    out["trace.ops"] = float(len(tracer.ops))
    return out


def traffic(tracer, profile_ops: int) -> dict[str, dict[str, float]]:
    """Per traced entry of the profile prefix: where its time went. The
    stage share is the part of the work spans' wall time during which at
    least one Spark stage ran; the rest is driver time (build, Catalyst,
    planning, py4j, result transfer, idle polling)."""
    out: dict[str, dict[str, float]] = {}
    for rec in tracer.ops[:profile_ops]:
        wall = sum(s.ms for s in rec.spans if s.name in WORK_SPANS)
        c = rec.counters
        stage = min(c.get("scheduler.stage_wall_ms", 0.0), wall)
        out.setdefault(rec.name, {
            "wall_ms": wall,
            "stage_share": stage / wall if wall else 0.0,
            "driver_ms": wall - stage,
            "executor_run_per_wall": c.get("executor.run_ms", 0.0) / wall if wall else 0.0,
            "jobs": c.get("scheduler.jobs", 0.0),
            "shuffle_bytes": c.get("shuffle.write_bytes", 0.0),
            "catalyst_ms": sum(c.get(f"catalyst.{p}_ms", 0.0)
                               for p in ("analysis", "optimization", "planning")),
        })
    return out


def tails(ops) -> dict:
    """Per class: sample count, p50 and the highest percentile with at
    least ten samples beyond it."""
    from perfbench.tracing import tail_percentile

    out = {}
    for c in ("short", "heavy"):
        xs = [s * 1000.0 for o in ops if o.ok for cls, s in o.parts if cls == c]
        tail = tail_percentile(xs)
        out[c] = {
            "samples": len(xs),
            "p50_ms": _median_or_zero(xs),
            "tail": None if tail is None else {"p": tail[0], "ms": tail[1]},
        }
    return out


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.tracing import Tracer, floor_ms
    from perfbench.workloads import make

    t_session = time.perf_counter()
    spark = start_session()
    try:
        workload = make(workload_name)
        session_s = time.perf_counter() - t_session
        base = os.path.join(WORK, "data", f"{workload_name}-seed{seed}")
        shutil.rmtree(base, ignore_errors=True)
        prep_s, sizes = [], {}
        for k in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            sizes = workload.prepare(spark, os.path.join(base, f"round{k}"), seed)
            prep_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm_ops = workload.warm(spark)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep_s) + warm_s
        floors = [floor_ms(spark) for _ in range(FLOOR_RUNS)]

        # A fixed amount of work: the whole passes that take ``seconds`` on
        # a box at the reference floor, so every entry gets the same number
        # of samples and the op sequence is a function of the seed. The
        # sentinel runs after every op, so the floor is measured across the
        # window the ops ran in.
        passes = max(1, round(seconds / workload.pass_seconds))
        n_ops = passes * workload.pass_ops
        tracer = Tracer(spark) if trace else None
        ops = []
        start = time.perf_counter()
        for name in itertools.islice(workload.sequence(seed), n_ops):
            ops.append(workload.run_op(spark, name, tracer))
            floors += ops[-1].floors
            floors += [floor_ms(spark) for _ in range(-(-FLOOR_RUNS_WINDOW // n_ops))]
        window_s = time.perf_counter() - start
        rss = peak_rss_mb([os.getpid(), jvm_pid()])
        env = environment(spark, workload_name)
        floor = statistics.median(floors)
        raw = end_to_end(ops, setup_s)
        if tracer is not None:
            tracer.close()
            metrics = per_layer(tracer, ops, workload.pass_ops, floors, rss)
        else:
            metrics = end_to_end(ops, setup_s, REF_FLOOR_MS, floor)
    finally:
        stop_session(spark)
    for scratch in (base, *(os.path.join(WORK, d) for d in ("tmp", "spark-local", "ckpt"))):
        shutil.rmtree(scratch, ignore_errors=True)
    failed = sum(1 for o in ops if not o.ok)
    detail = {
        "workload": workload_name,
        "seed": seed,
        "seconds": seconds,
        "passes": passes,
        "trace": trace,
        "environment": env | {"session_floor_ms": floor,
                              "session_floor_spread": spread(floors)},
        "reference_floor_ms": REF_FLOOR_MS,
        "raw": raw,
        "peak_rss_mb": rss,
        "inputs": sizes,
        "setup": {"session_s": session_s, "prepare_s": prep_s, "warm_s": warm_s,
                  "setup_s": setup_s,
                  "warm_ops": [{"name": o.name, "ms": o.seconds * 1000.0} for o in warm_ops]},
        "window_s": window_s,
        "attempted": len(ops),
        "failed": failed,
        "failed_ratio": failed / len(ops) if ops else 1.0,
        "errors": [f"{o.name}: {o.error}" for o in ops if not o.ok][:10],
        "classes": tails(ops),
        "ops": [{"name": o.name, "ms": o.seconds * 1000.0, "ok": o.ok,
                 "parts_ms": [(c, t * 1000.0) for c, t in o.parts],
                 "floor_ms": _median_or_zero(o.floors)} for o in ops],
        "metrics": metrics,
    }
    if tracer is not None:
        detail["traffic"] = traffic(tracer, workload.pass_ops)
        detail["spans"] = [
            {"op": rec.name,
             "spans": [{"name": s.name, "parent": s.parent, "start": s.start, "end": s.end}
                       for s in rec.spans]}
            for rec in tracer.ops
        ]
    return detail


def report(detail: dict, units: dict[str, str]) -> dict:
    """Print the readable report and return the final result object."""
    print(f"workload {detail['workload']}  seed {detail['seed']}  "
          f"trace {int(detail['trace'])}  window {detail['window_s']:.2f} s")
    print("environment " + json.dumps(detail["environment"], sort_keys=True))
    print("inputs " + json.dumps(detail["inputs"], sort_keys=True))
    for c, t in detail["classes"].items():
        tail = t["tail"]
        tail_s = "n/a (fewer than 20 samples)" if tail is None else \
            f"p{tail['p']:g} = {tail['ms']:.1f} ms"
        print(f"{c:>6} ops: {t['samples']} samples, p50 = {t['p50_ms']:.1f} ms, {tail_s}")
    print(f"failed_ratio = {detail['failed_ratio']:.4f} "
          f"({detail['failed']} of {detail['attempted']} ops)")
    for e in detail["errors"]:
        print(f"  error: {e}")
    print(f"floor {detail['environment']['session_floor_ms']:.1f} ms "
          f"(reference {detail['reference_floor_ms']:g} ms); "
          f"peak RSS {detail['peak_rss_mb']:.0f} MB; unscaled: "
          + ", ".join(f"{k} = {v:.6g}" for k, v in detail["raw"].items()))
    for name, t in detail.get("traffic", {}).items():
        print(f"traffic {name}: " + ", ".join(f"{k} = {v:.4g}" for k, v in t.items()))
    metrics = {}
    for name, unit in units.items():
        value = detail["metrics"][name]
        print(f"{name} = {value:.6g} {unit}")
        metrics[name] = {"value": value, "unit": unit}
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    fname = f"{detail['workload']}-seed{detail['seed']}-trace{int(detail['trace'])}.json"
    with open(os.path.join(out_dir, fname), "w") as f:
        json.dump(detail, f, indent=1)
    return {
        "correct": detail["failed"] == 0 and detail["attempted"] > 0
        and all(detail["metrics"][n] > 0 for n in END_TO_END if n in units),
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    result = report(detail, PER_LAYER if args.trace else END_TO_END)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the package and the benchmark from the checkout
    sys.exit(main())
