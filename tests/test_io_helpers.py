"""Unit tests for io.py: the widen_scan decision helpers (ADVICE r4: the
byte-size conf parser and the URI-safe local file stat), the per-session
table-schema memo behind load_table, and the engine's cache scoping."""

from __future__ import annotations

import os
import threading
import uuid
from contextlib import contextmanager

import pytest

from jp_qcew_spark.io import _byte_string_as_bytes, _local_file_size

DEFAULT = 134217728


def test_byte_string_plain_and_suffixed():
    assert _byte_string_as_bytes("134217728") == 134217728
    # the ADVICE r4 case: '128m' must be 128 MiB, not 128 bytes
    assert _byte_string_as_bytes("128m") == 128 << 20
    assert _byte_string_as_bytes("128MB") == 128 << 20
    assert _byte_string_as_bytes("1g") == 1 << 30
    assert _byte_string_as_bytes(" 64k ") == 64 << 10
    assert _byte_string_as_bytes("512b") == 512
    assert _byte_string_as_bytes("2t") == 2 << 40


def test_byte_string_unparseable_falls_back():
    assert _byte_string_as_bytes("") == DEFAULT
    assert _byte_string_as_bytes("abc") == DEFAULT
    assert _byte_string_as_bytes("12x") == DEFAULT
    assert _byte_string_as_bytes(None) == DEFAULT
    assert _byte_string_as_bytes("1.5g") == DEFAULT  # Spark rejects these too


def test_local_file_size_decodes_uris(tmp_path):
    p = tmp_path / "a file.parquet"  # space -> %20 in inputFiles() URIs
    p.write_bytes(b"x" * 123)
    uri = "file://" + str(p).replace(" ", "%20")
    assert _local_file_size(uri) == 123
    assert _local_file_size(str(p)) == 123  # bare path entries too


def test_local_file_size_skips_remote_and_missing(tmp_path):
    assert _local_file_size("s3://bucket/key.parquet") is None
    assert _local_file_size("hdfs://nn:8020/x.parquet") is None
    assert _local_file_size(str(tmp_path / "missing.parquet")) is None


@contextmanager
def count_jobs(spark, stages: bool = False):
    """Yield a list that holds, on exit, the number of Spark jobs the block
    launched from this thread (counted through a job group) and, with
    ``stages``, the number of their stages that ran (skipped excluded)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    out = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out.append(len(jobs))
        if stages:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            store = sc._jsc.sc().statusStore()
            ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
            out.append(
                sum(
                    str(store.lastStageAttempt(s).status()) != "SKIPPED"
                    for s in ids
                )
            )


def _orders_pairs(a, b):
    """Order pairs placed by the same customer, summed: a self-join whose
    two sides must carry distinct attribute ids to resolve."""
    from pyspark.sql import functions as F

    return (
        a.join(
            b,
            (a.o_custkey == b.o_custkey) & (a.o_orderkey < b.o_orderkey),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(a.o_orderkey + b.o_orderkey).alias("keys"),
        )
        .collect()
    )


class TestSchemaMemo:
    """load_table pins each table's Parquet schema once per session and
    file state, and hands back a fresh lazy DataFrame on every call."""

    def test_warm_load_launches_no_job(self, spark, sf_dir):
        from jp_qcew_spark.io import load_table, metadata_row_count

        load_table(spark, sf_dir, "orders")
        load_table(spark, sf_dir, "events")
        with count_jobs(spark) as jobs:
            orders = load_table(spark, sf_dir, "orders")
            events = load_table(spark, sf_dir, "events")
            n = metadata_row_count(spark, sf_dir, "orders")
        assert jobs == [0]
        assert dict(events.dtypes)["ts"] == "timestamp"
        assert n == orders.count()

    def test_self_join_resolves_and_matches_inferred_read(self, spark, sf_dir):
        from jp_qcew_spark.io import load_table

        a = load_table(spark, sf_dir, "orders")
        b = load_table(spark, sf_dir, "orders")
        assert a is not b
        path = os.path.join(sf_dir, "orders.parquet")
        inferred = _orders_pairs(spark.read.parquet(path),
                                 spark.read.parquet(path))
        assert _orders_pairs(a, b) == inferred
        assert inferred[0]["n"] > 0

    def test_rewritten_table_is_reinferred(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from jp_qcew_spark.io import load_table

        path = str(tmp_path / "orders.parquet")
        spark.range(3).write.parquet(path)
        assert load_table(spark, str(tmp_path), "orders").columns == ["id"]
        spark.range(3).selectExpr("id", "id * 2 AS x").write.mode(
            "overwrite"
        ).parquet(path)
        df = load_table(spark, str(tmp_path), "orders")
        assert df.columns == ["id", "x"]
        assert sorted(r.x for r in df.collect()) == [0, 2, 4]
        # a single file replaced at the same path
        single = str(tmp_path / "single")
        os.mkdir(single)
        target = os.path.join(single, "orders.parquet")
        pq.write_table(pa.table({"a": [1, 2]}), target)
        assert load_table(spark, single, "orders").columns == ["a"]
        pq.write_table(pa.table({"a": [1], "b": ["z"]}), target + ".new")
        os.replace(target + ".new", target)
        df = load_table(spark, single, "orders")
        assert [tuple(r) for r in df.collect()] == [(1, "z")]

    def test_missing_table_raises_sparks_error(self, spark, tmp_path):
        from pyspark.errors import AnalysisException

        from jp_qcew_spark.io import load_table

        with pytest.raises(AnalysisException, match="orders.parquet"):
            load_table(spark, str(tmp_path), "orders")

    def test_concurrent_cold_loads_infer_once(self, spark, tmp_path):
        """More threads than cores open one cold table at once: all get the
        same schema and exactly one of them runs the inference job."""
        import sys
        from concurrent.futures import ThreadPoolExecutor

        from jp_qcew_spark.io import load_table

        spark.range(4).selectExpr(
            "id", "CAST(id AS STRING) AS s"
        ).write.parquet(str(tmp_path / "orders.parquet"))
        n = 2 * spark.sparkContext.defaultParallelism
        barrier = threading.Barrier(n, timeout=60)

        def open_table(_):
            barrier.wait()
            with count_jobs(spark) as jobs:
                schema = load_table(spark, str(tmp_path), "orders").schema
            return schema, jobs[0]

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            with ThreadPoolExecutor(n) as pool:
                got = list(pool.map(open_table, range(n), timeout=120))
        finally:
            sys.setswitchinterval(interval)
        assert len(got) == n
        assert all(schema == got[0][0] for schema, _ in got)
        assert got[0][0].fieldNames() == ["id", "s"]
        assert sum(jobs for _, jobs in got) == 1


@pytest.mark.parametrize(
    "name, collect_jobs, collect_stages",
    [
        pytest.param("cast_nullsafe", 3, 3, id="cast_nullsafe-3"),
        pytest.param("rank_dense", 3, 3, id="rank_dense-3"),
        pytest.param("mode_keying", 4, 4, id="mode_keying-4"),
        pytest.param("quantiles_exact", 3, 3, id="quantiles_exact-3"),
    ],
)
def test_warm_query_job_counts(
    spark, sf_dir, name, collect_jobs, collect_stages
):
    """Job- and stage-count regression guards: a warm registry build
    launches no job (every table's schema is memoised) and its collect
    launches a fixed number of jobs and runs a fixed number of stages,
    which box speed cannot move (the stage counts read the same at
    local[2] and local[4]). The final sort runs no range-sampling job
    (io.order_result)."""
    from jp_qcew_spark.queries import all_queries

    build = all_queries()[name]
    build(spark, sf_dir).collect()
    with count_jobs(spark) as build_jobs:
        df = build(spark, sf_dir)
    with count_jobs(spark, stages=True) as run:
        df.collect()
    assert (build_jobs[0], *run) == (0, collect_jobs, collect_stages)


def test_trained_artifact_follows_rewritten_table(spark, tmp_path):
    """A promoted artifact is keyed by the stamps of its scale-factor
    directory's table files: rewriting a table there retrains it."""
    from jp_qcew_spark.io import load_table, trained_artifact

    sf = str(tmp_path)
    path = os.path.join(sf, "embeddings.parquet")

    def n_rows() -> int:
        art = trained_artifact(
            spark, sf, "test_rows",
            lambda: load_table(spark, sf, "embeddings").groupBy().count(),
        )
        return art.first()[0]

    spark.range(5).withColumnRenamed("id", "vec_id").write.parquet(path)
    assert n_rows() == 5
    assert n_rows() == 5
    spark.range(2).withColumnRenamed("id", "vec_id").write.mode(
        "overwrite"
    ).parquet(path)
    assert n_rows() == 2


def test_engine_confs_change_only_their_keys(spark, tmp_path):
    """On a session whose engine confs are unset, one ``load_table`` and
    one ``run_to_memory`` drain write exactly ``io.ENGINE_CONFS``."""
    from pyspark.sql import functions as F

    from jp_qcew_spark.io import ENGINE_CONFS, load_table
    from jp_qcew_spark.sources.stream_replay import EventReplayDataSource
    from jp_qcew_spark.streaming.pipelines import run_to_memory
    from tests.conftest import SF_SMOKE

    s = spark.newSession()
    for k in ENGINE_CONFS:
        s.conf.unset(k)
    before = s.conf.getAll
    assert all(before.get(k) != v for k, v in ENGINE_CONFS.items())
    load_table(s, SF_SMOKE, "orders")
    s.dataSource.register(EventReplayDataSource)
    stream = (
        s.readStream.format("eventreplay")
        .option("path", os.path.join(SF_SMOKE, "events.parquet"))
        .load()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert run_to_memory(stream, "complete", "sink_conf_probe").count() > 0
    after = s.conf.getAll
    changed = {k for k in before.keys() | after.keys()
               if before.get(k) != after.get(k)}
    assert changed == set(ENGINE_CONFS)
    assert all(after[k] == v for k, v in ENGINE_CONFS.items())


class TestScopedCaching:
    """Cache-scoping contract: engine-internal persists and checkpoints
    are tracked in the calling context's scope; the registry releases the
    previous query's scope when a different query builds in the same
    context; release_caches() drains the rest. A long-lived session must
    end a multi-query sweep with an EMPTY cache manager without
    spark.catalog.clearCache(), and two threads sharing one session must
    never release each other's resources."""

    def _cache_empty(self, spark) -> bool:
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def _rdd_ids(self, spark) -> set[int]:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    def test_two_queries_on_two_threads(self, spark, sf_dir):
        """Thread A builds, thread B builds a different query, then both
        collect: B's build must not release A's checkpoints (with one
        process-wide scope A's collect fails with
        CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
        from concurrent.futures import ThreadPoolExecutor

        from jp_qcew_spark.io import release_caches
        from jp_qcew_spark.queries import all_queries

        qs = all_queries()
        names = ("tokenizer_bpe_merges", "graph_pagerank")
        serial = [
            sorted(map(tuple, qs[n](spark, sf_dir).collect())) for n in names
        ]
        release_caches()
        # one worker each: a pool thread keeps its own context across tasks
        with ThreadPoolExecutor(1) as a, ThreadPoolExecutor(1) as b:
            pools = (a, b)
            dfs = [
                t.submit(qs[n], spark, sf_dir).result()
                for t, n in zip(pools, names)
            ]
            rows = [t.submit(df.collect).result() for t, df in zip(pools, dfs)]
            assert [sorted(map(tuple, r)) for r in rows] == serial
            assert all(t.submit(release_caches).result() > 0 for t in pools)
        assert self._cache_empty(spark)
        assert self._rdd_ids(spark) == set()

    def test_release_is_per_thread(self, spark):
        from concurrent.futures import ThreadPoolExecutor

        from jp_qcew_spark.io import release_caches, track_local_checkpoint

        release_caches()
        df = spark.range(1000)
        with ThreadPoolExecutor(1) as other:
            cp = other.submit(track_local_checkpoint, df).result()
            rid = cp._jdf.queryExecution().logical().rdd().id()
            assert release_caches() == 0  # this thread tracks nothing
            assert rid in self._rdd_ids(spark)
            assert cp.count() == 1000
            assert other.submit(release_caches).result() == 1
        assert rid not in self._rdd_ids(spark)

    def test_failed_build_does_not_leak(self, spark, sf_dir):
        """A build that tracks a cache, and a checkpoint on one of its
        own threads, then raises: the next different query's build in
        the same context releases both."""
        from jp_qcew_spark.io import (
            release_caches,
            track_cache,
            track_local_checkpoint,
        )
        from jp_qcew_spark.queries import _scoped, all_queries
        from jp_qcew_spark.queries.similarity import _on_threads

        def failing_build(spark, sf_dir):
            track_cache(spark.range(100).selectExpr("id * 3 AS x")).count()
            _on_threads(spark, lambda: track_local_checkpoint(spark.range(9)))
            raise RuntimeError("build failed")

        release_caches()
        with pytest.raises(RuntimeError, match="build failed"):
            _scoped("failing_build", failing_build)(spark, sf_dir)
        assert not self._cache_empty(spark)
        assert self._rdd_ids(spark)
        all_queries()["pricing_summary"](spark, sf_dir)
        assert self._cache_empty(spark)
        assert self._rdd_ids(spark) == set()

    def test_threaded_builds_share_the_callers_scope(self, spark):
        """More builds than cores and a short switch interval: every
        handle the builds' threads track lands in the caller's scope."""
        import sys

        from jp_qcew_spark.io import release_caches, track_cache
        from jp_qcew_spark.queries.similarity import _on_threads

        class Frame:  # what track_cache and release_caches call
            def persist(self):
                return self

            def unpersist(self, blocking=False):
                return self

        def build():
            for _ in range(200):
                track_cache(Frame())

        release_caches()
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            _on_threads(spark, *[build] * 16)
        finally:
            sys.setswitchinterval(interval)
        assert release_caches() == 16 * 200

    def test_checkpoint_tracks_its_own_rdd(self, spark, monkeypatch):
        """Another query's RDD persisted while the checkpoint runs (as a
        concurrent thread's would) is neither tracked nor released."""
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        from jp_qcew_spark.io import (
            current_scope,
            release_caches,
            track_local_checkpoint,
        )

        release_caches()
        sc = spark.sparkContext
        unrelated = [sc.parallelize(range(10)).cache()]
        unrelated[0].count()
        checkpoint = ClassicDataFrame.localCheckpoint

        def persist_other_then_checkpoint(self, *args, **kwargs):
            unrelated.append(sc.parallelize(range(10)).cache())
            unrelated[-1].count()
            return checkpoint(self, *args, **kwargs)

        monkeypatch.setattr(
            ClassicDataFrame, "localCheckpoint", persist_other_then_checkpoint
        )
        before = self._rdd_ids(spark)
        cp = track_local_checkpoint(spark.range(1000))
        cp_id = cp._jdf.queryExecution().logical().rdd().id()
        others = {r.id() for r in unrelated}
        assert self._rdd_ids(spark) - before == {cp_id, unrelated[-1].id()}
        assert [h.id() for h in current_scope().handles] == [cp_id]
        assert release_caches() == 1
        assert self._rdd_ids(spark) & (others | {cp_id}) == others
        for r in unrelated:
            r.unpersist()

    def test_sweep_leaves_no_caches(self, spark, sf_dir):
        from jp_qcew_spark.io import release_caches
        from jp_qcew_spark.queries import all_queries

        qs = all_queries()
        # persist-heavy representatives: IVF+PQ (the r5-cited leak site),
        # LSH candidate verify, pagerank supersteps, kmeans supersteps
        for name in (
            "knn_ivfpq",
            "dedup_jaccard_pairs",
            "graph_pagerank",
            "kmeans_cluster",
        ):
            assert qs[name](spark, sf_dir).collect()
            # caches from the PREVIOUS query must be gone once the next one
            # built (checked on the following loop iteration implicitly)
        release_caches()
        assert self._cache_empty(spark)

    def test_sweep_leaves_no_checkpoint_blocks(self, spark, sf_dir):
        """localCheckpoint blocks live OUTSIDE the cache manager (round-6
        extension of the r5 leak fix): after the iterative operators run
        and the scope is released, getPersistentRDDs must be empty too —
        not just the SQL cache."""
        from jp_qcew_spark.io import release_caches
        from jp_qcew_spark.queries import all_queries

        qs = all_queries()
        for name in ("dedup_components", "graph_pagerank"):
            assert qs[name](spark, sf_dir).collect()
        release_caches()
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0

    def test_same_query_rebuild_keeps_warm_cache(self, spark, sf_dir):
        from jp_qcew_spark.io import release_caches
        from jp_qcew_spark.queries import all_queries

        qs = all_queries()
        qs["dedup_jaccard_pairs"](spark, sf_dir).collect()
        assert not self._cache_empty(spark)  # warm across same-name rebuilds
        qs["dedup_jaccard_pairs"](spark, sf_dir)
        assert not self._cache_empty(spark)
        # a DIFFERENT query's build releases them
        qs["pricing_summary"](spark, sf_dir)
        assert self._cache_empty(spark)
        release_caches()

    def test_released_checkpoint_errors_not_recomputes(self, spark):
        """The build-then-materialize contract, pinned (VERDICT r6 #6 /
        ADVICE r6): a RELEASED tracked localCheckpoint cannot silently
        recompute — its lineage was truncated — so an embedder that builds
        query A, builds query B (releasing A's scope), and only then
        collects A gets a CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND job failure,
        not stale or recomputed data. This is the documented caveat in
        io.track_local_checkpoint; materialize each query's result before
        building the next."""
        import time

        from pyspark.sql import functions as F

        from jp_qcew_spark.io import release_caches, track_local_checkpoint

        df = spark.range(1000).withColumn("x", F.col("id") * 2)
        cp = track_local_checkpoint(df)
        assert cp.count() == 1000  # blocks live: checkpoint serves reads
        release_caches()
        # unpersist(blocking=False): poll until async block removal lands
        # (a single fixed sleep flaked on loaded machines — ADVICE r7)
        deadline = time.time() + 30.0
        while True:
            try:
                cp.count()
            except Exception as exc:  # noqa: BLE001 — asserting on message
                assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in str(exc)
                break
            assert time.time() < deadline, (
                "released checkpoint still serving reads after 30s"
            )
            time.sleep(0.2)
