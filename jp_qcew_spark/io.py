"""Dataset loaders for the driver-provided oracle tables (TESTDATA.md).

Every query entry loads through here so scans stay uniform: parquet, lazy,
column pruning and predicate pushdown left to Catalyst.
"""

from __future__ import annotations

import contextvars
import os
import re
import threading
import weakref
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# The runtime SQL confs the engine's semantics depend on: ``get_spark``
# builds its session with them and ``ensure_session_confs`` pins them on a
# session the caller built. Every key is runtime-settable.
#
# - ANSI off: null-on-failure casts / NULL on div-by-zero, mirroring the
#   reference's ``cast(strict=False)`` (data_process.py:66-82) and the
#   DuckDB oracle's TRY_CAST comparisons (Spark 4 defaults ANSI **on**).
# - UTC session timezone: parquet instants must render as naive-UTC to
#   match DuckDB's naive timestamps.
# - nanosAsLong: events.parquet carries TIMESTAMP(NANOS), unreadable
#   otherwise; load_table converts back to micros.
# - checkpoint checksums off: Spark 4.1 writes and verifies a checksum file
#   for every streaming checkpoint file through an async writer pool each
#   state-store commit waits on; the engine's stream checkpoints are
#   ephemeral, so SPARK_GRAFT_CKPT_CHECKSUM=true (read at import) is the
#   only way back on.
# - cached-plan repartitioning: lets AQE re-plan (and coalesce) CACHED
#   plans, so a .persist() under a 200-shuffle-partition session does not
#   freeze 200 near-empty cache partitions for every downstream stage.
ENGINE_CONFS = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": os.environ.get(
        "SPARK_GRAFT_CKPT_CHECKSUM", "false"
    ),
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin ``ENGINE_CONFS`` on ``spark``: the driver (and any embedding
    application) builds its own SparkSession, so session-level defaults
    can't be assumed. Idempotent; no other conf is written."""
    for k, v in ENGINE_CONFS.items():
        spark.conf.set(k, v)


def file_stamp(path: str) -> tuple[int, int, int] | None:
    """``(st_mtime_ns, st_size, st_ino)`` of ``path``, or None when
    ``os.stat`` cannot see it (a URI or a missing file): a file rewritten
    or replaced at the same path gets a new stamp."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


# Per-session memo of each table's inferred Parquet schema (table_schema):
# session -> {absolute path: ((st_mtime_ns, st_size, st_ino), schema)}.
_SCHEMA_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMA_LOCK = threading.Lock()


def _table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """One oracle table's raw Parquet schema (``events.ts`` as stored),
    inferred once per session and file state.

    Inference runs a Spark job (Parquet's parallel schema merge) even for
    one unchanged file. The memo is keyed by the session, the absolute
    path and the path's ``(st_mtime_ns, st_size, st_ino)``, so a table
    rewritten or replaced at the same path is re-inferred on its next
    open. A path ``os.stat`` cannot see (a URI, or a missing table) is
    inferred on every call, and a missing one raises Spark's own error
    naming it. Session confs that change inference (nanosAsLong) are
    pinned first."""
    ensure_session_confs(spark)
    path = _table_path(sf_dir, name)
    stamp = file_stamp(path)
    if stamp is None:
        return spark.read.parquet(path).schema
    key = os.path.abspath(path)
    hit = _SCHEMA_MEMO.get(spark, {}).get(key)
    if hit is None or hit[0] != stamp:
        with _SCHEMA_LOCK:
            memo = _SCHEMA_MEMO.setdefault(spark, {})
            hit = memo.get(key)
            if hit is None or hit[0] != stamp:
                hit = memo[key] = (stamp, spark.read.parquet(path).schema)
    return hit[1]


def events_ts_micros(df: DataFrame) -> DataFrame:
    """Turn the events frame's stored ``ts`` into a microsecond TimestampType.

    ``events.ts`` is Parquet TIMESTAMP(NANOS), which Spark reads only as a
    nano-epoch long (``spark.sql.legacy.parquet.nanosAsLong``); this matches
    DuckDB's ns->us truncation on fetch. Naive Parquet timestamps infer as
    TIMESTAMP_NTZ; they are cast to TimestampType, which event-time
    watermarks require and which is value-preserving under the pinned UTC
    session timezone, so batch and stream frames union and join on ``ts``.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one oracle table. ``sf_dir`` is e.g. /root/testdata/sf0.01.

    Every call returns a fresh lazy DataFrame, with new attribute ids, so
    a caller may open one table twice and self-join the two. Its schema is
    pinned from the per-session memo (``table_schema``: keyed by session,
    absolute path, mtime, size and inode), so a warm open launches no
    Spark job; data and file listing are still read by every scan.
    ``events.ts`` comes back as a microsecond timestamp
    (``events_ts_micros``).
    """
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(_table_path(sf_dir, name))
    return events_ts_micros(df) if name == "events" else df


def metadata_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of one oracle table from Parquet FOOTER metadata —
    zero Spark jobs once the table's schema is memoised (the first open of
    a table in a session runs ``load_table``'s one inference job).

    Config-scalar derivations (LSH bucket widths, band counts) need ``n``
    BEFORE the query plan exists; deriving it via ``DataFrame.count()``
    launches a full scan job ahead of the real query — noise at sf0.1, a
    100 TB scan for one scalar at cluster scale.  Parquet already stores
    ``num_rows`` in every file footer, so the driver can sum footers
    directly (pyarrow), the same way a cluster catalog would answer it
    from table statistics.

    The counted file SET is Spark's own, by construction: the table is
    opened via ``load_table`` (driver-side file listing, schema pinned
    from the session memo) and the footers of ``DataFrame.inputFiles()``
    are summed, so visibility rules ('_'/'.'-prefixed metadata entries,
    stale ``_temporary/`` from a killed write) and file-naming
    conventions (suffix-less part files from other writers) can never
    diverge from what the query's scan will actually read — a
    hand-rolled re-listing could 'succeed' with a different set and
    derive an LSH config the oracle's count(*) disagrees with.  A
    missing table raises ``load_table``'s own error (the real problem)
    instead of degrading into an unrelated scan failure; the Spark
    count fallback is reserved for file sets that are not LOCALLY
    footer-readable (remote filesystem, footer pyarrow cannot parse) —
    correctness never depends on the fast path, and the equality of
    both paths is pinned by test at 3 scales.
    """
    df = load_table(spark, sf_dir, name)
    try:
        import pyarrow.parquet as pq

        files = df.inputFiles()
        if not files:
            # a source that exposes no file index must not masquerade as an
            # empty table (n=0 would silently skew every derived LSH
            # config) — fall back to the authoritative Spark count
            raise OSError("scan exposes no input files")
        total = 0
        for uri in files:
            parsed = urlparse(uri)
            if parsed.scheme not in ("file", ""):
                raise OSError(f"non-local input {uri}")
            local = unquote(parsed.path or uri)
            total += pq.ParquetFile(local).metadata.num_rows
        return total
    except (OSError, ImportError, ValueError):
        # OSError: remote/unreadable file; ImportError: no pyarrow;
        # ValueError covers pyarrow's ArrowInvalid (unparseable footer).
        # Anything else (a genuine bug) propagates.
        return df.count()


# below this much scan input, a single core finishes in well under a
# second and the widening exchange + extra stage cost more than they save
_WIDEN_MIN_BYTES = 4 << 20

_BYTE_SUFFIX = {
    "": 1,
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
    "p": 1 << 50,
    "pb": 1 << 50,
}


def _byte_string_as_bytes(value: object, default: int = 134217728) -> int:
    """Parse a Spark byte-size conf string ("134217728", "128m", "1g"...)
    the way Spark's JavaUtils.byteStringAsBytes does, falling back to
    ``default`` on anything unparseable. (The previous digit-stripping
    parse turned a legal "128m" into 128 BYTES, inflating est_splits and
    silently disabling widening — ADVICE r4.)"""
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", str(value))
    if not m:
        return default
    mult = _BYTE_SUFFIX.get(m.group(2).lower())
    if mult is None:
        return default
    return int(m.group(1)) * mult


def _local_file_size(uri: str) -> int | None:
    """Size of one ``df.inputFiles()`` entry, or None if it can't be
    stat-ed locally. Entries are URI strings that may be percent-encoded
    (spaces -> %20) and may carry a scheme/authority; decode before
    stat-ing instead of raw string-slicing (ADVICE r4). Non-local schemes
    return None — at cluster scale split-based parallelism is the norm
    and widening conservatively skips."""
    parsed = urlparse(uri)
    if parsed.scheme in ("", "file") and parsed.netloc in ("", "localhost"):
        path = unquote(parsed.path) if parsed.scheme else uri
        try:
            return os.path.getsize(path)
        except OSError:
            return None
    return None


def widen_scan(df: DataFrame, density: int = 1) -> DataFrame:
    """Guarantee a compute-dense scan at least core-count parallelism.

    ``density`` is the caller's compute-amplification declaration: how
    many times denser the per-byte work is than the plain projections
    the byte floor was tuned for (regex/histogram passes, density 1).
    The gate compares ``total_bytes × density`` against the floor, so a
    pass that cryptographically hashes every n-gram (``dsir_importance``:
    two md5-per-bigram corpus passes, measured 3.6 s of single-task CPU
    at sf0.1 on a 580 KB file the density-1 gate skips) widens earlier
    while every density-1 caller is untouched. Scale behavior unchanged:
    on a many-split corpus the split count already exceeds the core
    count and no exchange is added regardless of density.

    Spark sizes file splits by BYTES (``spark.sql.files.maxPartitionBytes``,
    128 MB): a compressed single-file corpus scans as 1-2 splits, so a
    projection doing real per-row work (regex scrubbing, tokenization,
    26-pass histograms) runs on 1-2 of 32 cores no matter how many are
    idle. Measured at sf1 (one 6 MB documents file → 2 splits):
    scrub_pii 10.8 → 1.6 s, text_stats 6.4 → 1.5 s, text_entropy
    15.5 → 1.9 s once widened — the tier's ~10× scale factors were this
    parallelism floor, not the collect-bound linearity first assumed.

    The decision is made from the FILE INDEX (``df.inputFiles()`` +
    local file sizes — already materialized on the driver, no job, no
    ``.rdd`` conversion whose re-analysis alone costs ~0.3 s/query):
    repartition only when the estimated split count is below
    ``defaultParallelism`` AND the input is big enough to amortize the
    exchange (``_WIDEN_MIN_BYTES``; sub-MB local fixtures keep their
    original single-stage plans and sub-second anchors). On a many-file
    100 TB corpus the split count exceeds the core count and no shuffle
    is added (there, a blanket repartition of raw text would itself be
    the bottleneck; parallelism already comes from the file splits).
    Non-local storage (no stat-able paths) conservatively skips widening
    — at cluster scale split-based parallelism is the norm.

    Apply to compute-dense map work only: joins/aggs already get their
    parallelism back at the first shuffle, and cheap projections
    (pure column select, tick sampling) don't amortize the exchange."""
    spark = df.sparkSession
    try:
        files = df.inputFiles()
    except Exception:
        return df
    total = 0
    for f in files:
        size = _local_file_size(f)
        if size is None:
            return df
        total += size
    if total * max(density, 1) < _WIDEN_MIN_BYTES:
        return df
    max_split = _byte_string_as_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    est_splits = max(len(files), -(-total // max_split))
    dp = spark.sparkContext.defaultParallelism
    if est_splits < dp:
        return df.repartition(dp)
    return df


def order_result(df: DataFrame, *cols) -> DataFrame:
    """Final sort of a result the caller collects: ``df.orderBy(*cols)``
    sorted in one task over a ``SinglePartition`` exchange.

    A plain global sort is planned as a range exchange, and Spark's
    ``RangePartitioner`` first runs a sampling job over the sort's input.
    That job re-executes everything above the last shuffle, and the
    exchange's map stage then runs it a second time. A one-partition
    exchange already satisfies the sort's distribution, so no range
    exchange, no sampling job and no second run are planned. The stage
    under the sort still runs in parallel; only its already-reduced
    output moves to one task.

    Scale: the single sort task holds exactly the rows the Spark driver
    is about to collect, so it is bounded by what that process can hold
    anyway, while the range path pays a whole extra pass over the last
    stage at any scale. Use it only where the sort is final, and keep a
    plain ``orderBy`` where the helper only adds a job: the sort's input
    is already one partition (a global window under it), or the result
    is typically one row (adaptive execution then drops the sort, but
    never a requested repartition). Never use it for
    ``orderBy(...).limit(n)``, which plans as a top-k heap, or for
    writes."""
    return df.repartition(1).orderBy(*cols)


def cache_parallel(df: DataFrame) -> DataFrame:
    """Persist ``df`` spread over ``defaultParallelism`` partitions.

    Pairs with ``canChangeCachedPlanOutputPartitioning`` (ensure_session_confs):
    that conf lets AQE coalesce tiny caches — which can collapse a hot
    intermediate to ONE partition and serialize every downstream stage. An
    explicit round-robin repartition pins the cache at core-count
    parallelism: small enough to dodge task-overhead storms under a
    200-shuffle-partition session, wide enough to keep all cores busy."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    return track_cache(df.repartition(dp))


class _Scope:
    """The engine resources one query holds while it builds and is read:
    every frame ``track_cache`` persisted and every RDD
    ``track_local_checkpoint`` pinned.

    Query builders persist hot intermediates (LSH candidates, IVF cells,
    pagerank supersteps) but return only the result, so nothing else
    holds a handle to them; without a scope a long-lived session keeps
    every dead cache, which at scale is an executor OOM.

    There is one scope per context (``contextvars``), so each thread has
    its own: two users of one session never release each other's
    resources. ``enter_scope`` releases the context's previous query when
    a different query builds there, so repeated builds of one query keep
    their warm caches; ``release_caches`` releases the last one. A
    builder's own threads run under a copy of its context
    (``contextvars.copy_context().run``) so they register here too."""

    def __init__(self) -> None:
        self.name: str | None = None
        self.handles: list = []  # DataFrames and JVM RDDs: .unpersist(False)


_SCOPE: contextvars.ContextVar[_Scope] = contextvars.ContextVar("_SCOPE")


def current_scope() -> _Scope:
    """This context's scope; the first use in a context creates it."""
    try:
        return _SCOPE.get()
    except LookupError:
        scope = _Scope()
        _SCOPE.set(scope)
        return scope


def enter_scope(name: str) -> None:
    """Query ``name`` starts building in this context: a different name
    than the context's last query releases that query's scope first."""
    scope = current_scope()
    if scope.name != name:
        release_caches()
        scope.name = name


def track_local_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` with scope-tracked block release.

    A localCheckpoint persists its materialized RDD outside the SQL cache
    manager, so ``DataFrame.unpersist``/``clearCache`` never reclaim it,
    only JVM GC eventually does. The checkpointed plan is a ``LogicalRDD``
    over exactly that RDD, so the scope registers it from the plan and
    ``release_caches`` unpersists it (see there for what that means for
    a retained result)."""
    cp = df.localCheckpoint()  # eager: the RDD's blocks exist now
    current_scope().handles.append(cp._jdf.queryExecution().logical().rdd())
    return cp


def track_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it in the current scope.

    All engine-internal ``.persist()`` calls route through here so the
    cache's lifetime is the enclosing query scope, not the session.
    """
    df.persist()
    current_scope().handles.append(df)
    return df


def release_caches() -> int:
    """Release every cache and checkpoint block this context's scope
    tracks; returns how many handles were released.

    The query registry calls it when a different query starts building
    in the same context. Call it directly to drop the last query's
    resources, or after materializing the last result when using query
    builders straight from the modules. It touches only the calling
    context's scope (per thread), never another thread's.

    BUILD-THEN-MATERIALIZE CONTRACT, per context: materialize
    (collect/write) each query's result before building the next query
    in the same thread, or calling this. Released plain caches silently
    recompute, but released localCheckpoint blocks cannot (their lineage
    was truncated), so collecting a retained DataFrame of an earlier
    query after its scope was released fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND rather than returning data (pinned
    in tests/test_io_helpers.py::TestScopedCaching).
    """
    handles = current_scope().handles
    n = 0
    while handles:
        try:
            handles.pop().unpersist(False)
        except Exception:
            pass  # session already stopped — nothing to release
        else:
            n += 1
    return n


# ---------------------------------------------------------------------------
# Trained-artifact promotion (round 14, VERDICT r13 #4)
#
# Families of queries (the PQ/IVF ANN tier, the quality classifier) compose
# the same TRAINED artifacts — codebooks, centroid sets, model weights,
# ground-truth slices.  Scoped caching releases between queries BY DESIGN
# (bounded executor memory), so without promotion every family member
# retrains identical bounded tables from scratch.  The fix is the production
# pattern: train once, promote the bounded artifact to the driver, re-emit
# it as a LocalRelation wherever the family needs it — exactly how a cluster
# serves a FAISS codebook or a fastText model (train job → serialized
# artifact → broadcast to the scan job).
#
# Promotion is safe because the artifacts are (a) BOUNDED BY CONSTRUCTION
# (M×K codebook rows, K centroids, D hashed-feature weights — none grows
# with the corpus; the row-cap guard raises loudly otherwise) and
# (b) DETERMINISTIC (seeded training, quantized supersteps, tie-broken
# rankings — the properties the DuckDB oracle replay already requires), so
# a promoted copy is value-identical to a rebuild; every consumer remains
# hash-verified against its full SQL oracle replay each round.  Rows are
# stored SORTED by the frame's columns so the promoted relation's content
# is independent of collection partition order.  Keyed by (artifact,
# absolute sf_dir) and the stamps of the directory's table files — scales
# never cross-contaminate, and a rewritten table retrains its artifacts;
# artifacts survive query-scope release on purpose (that is the point).
# ---------------------------------------------------------------------------

# (key, absolute sf_dir) -> (table-file stamps, rows, schema)
_TRAINED_MEMO: dict[tuple[str, str], tuple[tuple, list, object]] = {}
_TRAINED_ROW_CAP = 100_000
# Re-entrant: builds nest (the served codebook's build pulls the OPQ map
# artifact), and the eval queries now materialize independent variants
# from driver THREADS (guide §2.6 job overlap) — the lock makes a cold
# build happen exactly once under concurrency instead of twice.
_TRAINED_LOCK = threading.RLock()
# Build wall-clock per artifact key, recorded every cold build (VERDICT
# r14 #5: the promotion's one-per-process training cost must stay
# visible round-over-round) — bench.py publishes it in BENCH_LOCAL.json.
TRAINED_BUILD_SECONDS: dict[str, float] = {}


def reset_trained_artifacts() -> None:
    """Drop every promoted trained artifact (testing hook: plan tests pin
    the cold build; budget tests pin cold-then-warm)."""
    _TRAINED_MEMO.clear()


def trained_artifact(
    spark: SparkSession, sf_dir: str, key: str, build
) -> DataFrame:
    """Build-once-per-process memo for bounded deterministic training
    artifacts; returns a fresh LocalRelation bound to ``spark`` (never a
    cached reference to a stopped session's frame)."""
    mk = (key, os.path.abspath(sf_dir))
    stamp = tuple(file_stamp(_table_path(sf_dir, t)) for t in TABLES)
    hit = _TRAINED_MEMO.get(mk)
    if hit is None or hit[0] != stamp:
        with _TRAINED_LOCK:
            hit = _TRAINED_MEMO.get(mk)
            if hit is None or hit[0] != stamp:
                import time as _time

                t0 = _time.perf_counter()
                df = build()
                rows = order_result(df, *df.columns).collect()
                if len(rows) > _TRAINED_ROW_CAP:
                    raise ValueError(
                        f"trained artifact {key!r} collected {len(rows)} "
                        "rows — promotion is for bounded artifacts only "
                        "(codebooks, centroids, model weights, "
                        "ground-truth slices), never corpus-sized frames"
                    )
                TRAINED_BUILD_SECONDS[key] = round(
                    _time.perf_counter() - t0, 3
                )
                hit = _TRAINED_MEMO[mk] = (stamp, rows, df.schema)
    return spark.createDataFrame(hit[1], hit[2])


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every oracle table as a temp view so callers can use the
    engine through plain ``spark.sql`` — the Spark-catalog analog of the
    reference's embedded SQL-over-files surface (SURVEY §1.1:
    'Embedded SQL-over-files', data_process.py:93-95), with Catalyst
    pushdown/pruning instead of a per-query glob scan."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
