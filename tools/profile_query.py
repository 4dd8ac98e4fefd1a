"""Per-query job and stage profile of registry queries, read from Spark's
status store (which works with ``spark.ui.enabled=false``).

Each query is built and collected once cold, then built and collected
again under labelled job groups; the warm pair is reported:

    python tools/profile_query.py rank_dense quantiles_exact --sf DIR
    python tools/profile_query.py --all --sf DIR   # every non-stream query
    python tools/profile_query.py --etl 'qcew/*/*' # run_etl + NAICS-4

``DIR`` is a scale-factor directory of the oracle tables (TESTDATA.md).

Columns: warm build jobs, warm build py4j round trips (every command
the driver sends the JVM while the builder runs, counted by wrapping
py4j's ``ClientServerConnection.send_command`` in this process only;
the object deletes py4j's finalizer thread sends on its own clock are
not counted), warm collect jobs, completed and skipped collect stages,
collect tasks, executor run ms of the collect, and the collect's wall
ms. The counts do not move with box speed; the two ms columns do.
Queries that build on their own driver threads (the PQ evals) count
those threads' commands too. Output is one Markdown table row per query.

``--etl GLOB`` profiles ``run_etl`` of the fixed-width files GLOB names
(into a temporary directory) and ``naics4_aggregate(...).collect()`` on
its result, once cold and once warm, and prints the warm pair: build ms
(for ``run_etl``, from the call to its first job's submission; for the
aggregate, building the DataFrame), jobs, completed and skipped stages,
tasks, executor run ms and wall ms.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = (
    "| query | build jobs | build rt | collect jobs | stages | skipped "
    "| tasks | run ms | collect ms |\n|---|---|---|---|---|---|---|---|---|"
)

# py4j commands sent since _count_round_trips() installed its wrapper
_ROUND_TRIPS = [0]


def _count_round_trips() -> None:
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    gc = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counted(self, command):
        if not command.startswith(gc):
            _ROUND_TRIPS[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted


def _group_counters(spark, group: str) -> dict[str, int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, stages=0, skipped=0, tasks=0, run_ms=0)
    seen: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                out["skipped"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["run_ms"] += st.executorRunTime()
    return out


def profile(spark, name: str, fn, sf_dir: str) -> dict[str, int]:
    """Warm build and collect counters of one registry query."""
    sc = spark.sparkContext
    sc.setJobGroup(f"profile:{name}:cold", name)
    fn(spark, sf_dir).collect()
    sc.setJobGroup(f"profile:{name}:build", name)
    rt = _ROUND_TRIPS[0]
    df = fn(spark, sf_dir)
    rt = _ROUND_TRIPS[0] - rt
    sc.setJobGroup(f"profile:{name}:collect", name)
    t0 = time.perf_counter()
    df.collect()
    wall = round((time.perf_counter() - t0) * 1000)
    rec = _group_counters(spark, f"profile:{name}:collect")
    rec["build_jobs"] = _group_counters(spark, f"profile:{name}:build")["jobs"]
    rec["build_rt"] = rt
    rec["collect_ms"] = wall
    return rec


ETL_HEADER = (
    "| step | build ms | jobs | stages | skipped | tasks | run ms | wall ms |"
    "\n|---|---|---|---|---|---|---|---|"
)


def _first_submission_ms(spark, group: str) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    return min(
        store.job(j).submissionTime().get().getTime()
        for j in spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    )


def profile_etl(spark, glob: str) -> dict[str, dict[str, int]]:
    """Warm counters of ``run_etl`` over ``glob`` and of the NAICS-4
    aggregate of its output (each step also runs once cold first)."""
    from jp_qcew_spark.operators.etl import run_etl
    from jp_qcew_spark.operators.naics import naics4_aggregate

    sc = spark.sparkContext
    tmp = tempfile.mkdtemp(prefix="profile_etl_")
    try:
        for run in ("cold", "warm"):
            etl, agg = f"profile:etl:{run}", f"profile:naics:{run}"
            sc.setJobGroup(etl, "run_etl")
            t0 = time.time()
            df = run_etl(spark, glob, os.path.join(tmp, run))
            t1 = time.time()
            sc.setJobGroup(agg, "naics4_aggregate")
            q = naics4_aggregate(df)
            t2 = time.time()
            q.collect()
            t3 = time.time()
        etl_rec, agg_rec = _group_counters(spark, etl), _group_counters(spark, agg)
        etl_rec["build_ms"] = round(_first_submission_ms(spark, etl) - t0 * 1000)
        etl_rec["wall_ms"] = round((t1 - t0) * 1000)
        agg_rec["build_ms"] = round((t2 - t1) * 1000)
        agg_rec["wall_ms"] = round((t3 - t2) * 1000)
        return {"run_etl": etl_rec, "naics4_aggregate": agg_rec}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("names", nargs="*", help="registry query names")
    p.add_argument("--all", action="store_true",
                   help="every registry query outside the streaming group")
    p.add_argument("--sf", metavar="DIR",
                   help="scale-factor directory of the oracle tables")
    p.add_argument("--etl", metavar="GLOB",
                   help="profile run_etl and the NAICS-4 aggregate over "
                        "the fixed-width files GLOB names")
    args = p.parse_args(argv)

    from jp_qcew_spark.queries import all_queries
    from jp_qcew_spark.session import get_spark

    qs = all_queries()
    names = list(args.names)
    if args.all:
        names += [
            n for n, fn in qs.items()
            if fn.__wrapped__.__module__ != "jp_qcew_spark.queries.streaming"
        ]
    unknown = [n for n in names if n not in qs]
    if unknown or not (names or args.etl):
        p.error(f"unknown query names: {unknown}" if unknown else
                "name at least one query, or pass --all or --etl")
    if names and not args.sf:
        p.error("registry queries need --sf")

    spark = get_spark(
        app_name="profile_query",
        # keep every job and stage of a long sweep in the status store
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    if args.etl:
        print(ETL_HEADER, flush=True)
        for step, r in profile_etl(spark, args.etl).items():
            print(
                f"| {step} | {r['build_ms']} | {r['jobs']} | {r['stages']} "
                f"| {r['skipped']} | {r['tasks']} | {r['run_ms']} "
                f"| {r['wall_ms']} |",
                flush=True,
            )
    if names:
        _count_round_trips()
        print(HEADER, flush=True)
    for name in names:
        r = profile(spark, name, qs[name], args.sf)
        print(
            f"| {name} | {r['build_jobs']} | {r['build_rt']} | {r['jobs']} "
            f"| {r['stages']} | {r['skipped']} | {r['tasks']} | {r['run_ms']} "
            f"| {r['collect_ms']} |",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
