"""Driver-facing query registry.

Aggregates every query group into two dicts consumed by ``__spark_entry__``:

- ``all_queries()``  : name -> callable(spark, sf_dir) -> DataFrame
- ``all_oracles()``  : name -> equivalent DuckDB SQL (omitted for ops that are
  genuinely not SQL-expressible; the driver then records a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

_GROUPS = [
    "jp_qcew_spark.queries.core",
    "jp_qcew_spark.queries.joins",
    "jp_qcew_spark.queries.windows",
    "jp_qcew_spark.queries.events",
    "jp_qcew_spark.queries.setops",
    "jp_qcew_spark.queries.text",
    "jp_qcew_spark.queries.dedup",
    "jp_qcew_spark.queries.similarity",
    "jp_qcew_spark.queries.streaming",
    "jp_qcew_spark.queries.multimodal",
    "jp_qcew_spark.queries.sketches",
    "jp_qcew_spark.queries.geo",
    "jp_qcew_spark.queries.graph",
    "jp_qcew_spark.queries.scalars",
    "jp_qcew_spark.queries.llm_prep",
    "jp_qcew_spark.queries.wages_ts",
    "jp_qcew_spark.queries.training",
    "jp_qcew_spark.queries.warehouse",
    "jp_qcew_spark.queries.curation",
]

# Driver-window rotation (VERDICT r2 #1): the driver's CORRECTNESS snapshot
# covers only the FIRST 50 registry entries, so registration order is
# evidence policy. This list pins the ROUND-15 window (VERDICT r14 #8:
# r15-changed queries first, then the two joins displaced in r14, then
# the oldest r10 evidence):
#
# - CHANGED in r15, optimization round 2: (a) the five connected-
#   components consumers (size-gated local union-find finish,
#   ext/graph.py); (b) the two PQ pricing evals (variants built on
#   concurrent driver threads); (c) every stream, all drained by
#   run_to_memory (the one bounded drain) — RAM-backed ephemeral checkpoints,
#   key-cardinality-derived state width for the dedup twins, PLUS the
#   inherited r15 commit's Arrow record-batch replay feeds and the
#   checkpoint-checksum default — the 17 registered stream consumers
#   all sit in the window;
# - then join_range / join_salted_skew (displaced from the r14 leads);
# - then the r10 cohort's remaining rows (oldest evidence),
#   alphabetical.
#
# Previous round's rationale, kept for the audit trail:
#
# - quality_classifier_{train,apply,gd_eval} and knn_ivfpq_rerank_sweep
#   are NEW this round (the curation triad's trained classifier —
#   NB closed form + 3 priced logistic supersteps, VERDICT r13 #7 —
#   and the refine-budget sweep closing the ANN quality arc, #5);
# - the whole served+eval PQ/IVF family CHANGED (trained-artifact
#   promotion, VERDICT r13 #4: the OPQ map / served codebook / IVF
#   centroids / exact ground truth now train once per process via
#   io.trained_artifact — value-identical by construction, re-certified
#   anyway), and stream_dedup_neardup gained the packed-band-index
#   width guard (ADVICE r13 — raise-only, behavior identical at any
#   in-contract config);
# - then the final 10 r9-evidence rows (VERDICT r13 #2 names them as
#   THE r14 leads), retiring all r9 evidence from the registry;
# - the remaining slots start retiring the r10 cohort (44 rows, the
#   oldest evidence once r9 clears), alphabetical: agg_distinct_exact
#   .. mode_keying land this round; the remaining 18 (moving_avg ..
#   unpivot_long) plus the younger half of the r10 cohort lead the
#   r15 window — two rounds retire r10 entirely (r15: the 18 left
#   here + 8 more slots toward r11 evidence).
# Everything NOT listed follows in module-registration order.
_WINDOW_PRIORITY = [
    # -- changed in round 15: connected-components local finish
    "semdedup_mutual",
    "semdedup_rp",
    "dedup_components",
    "dedup_keep_best",
    "dedup_keep_best_eval",
    # -- changed in round 15: threaded eval variants
    "knn_pq_residual_eval",
    "knn_pq_opq_eval",
    # -- changed in round 15: streaming drains (Arrow replay feeds +
    #    checksum default from the inherited commit; ephemeral-checkpoint
    #    location + derived state width this session) — all 17 registered
    #    stream consumers
    "stream_dedup_incremental",
    "stream_dedup_neardup",
    "stream_cep_sequence",
    "stream_python_source",
    "stream_python_source_sharded",
    "stream_quality_gate",
    "stream_hll_distinct",
    "stream_countmin_topk",
    "stream_quantile_hist",
    "stream_session",
    "stream_dedup",
    "stream_stateful_user_stats",
    "stream_cdc_apply",
    "stream_sliding",
    "stream_static_join",
    "stream_stream_join",
    "events_tumbling_stream",
    # -- displaced from the r14 leads by the late-r14 optimization pass
    "join_range",
    "join_salted_skew",
    # -- r10 cohort retirement continues (oldest evidence), alphabetical;
    #    semdedup_rp / stream_cep_sequence / events_tumbling_stream /
    #    tokenizer_* from that cohort are already covered above as
    #    r15-changed paths
    "join_semi",
    "knn_recall_rp",
    "label_synthesis",
    "lag_diff_pct",
    "mm_gif_decode",
    "mm_wav_decode",
    "mode_keying",
    "moving_avg",
    "pivot_wide",
    "pricing_summary",
    "rank_dense",
    "rollup_agg",
    "running_sum",
    "sample_weighted",
    "scd2_upsert",
    "suppressed_agg",
    "text_containment",
    "text_token_count",
    "tick_sample",
    "tokenizer_bpe_apply",
    "tokenizer_bpe_merges",
    "union_distinct",
    "unpivot_long",
    # -- 50th slot: first core entry in module order (r10 cohort spent)
    "cast_nullsafe",
]



# Scoped caching (VERDICT r5 #3): builders persist hot intermediates (LSH
# candidates, IVF assignments, pagerank supersteps) and hand back only the
# result DataFrame, so without scoping a long-lived session accumulates dead
# cached partitions — at 100 TB, executor OOM. Every internal persist routes
# through io.track_cache; the wrapper below releases the PREVIOUS query's
# caches when a DIFFERENT query starts building, bounding accumulation at
# one query's working set while repeated builds of the SAME query (bench
# medians) keep their warm caches. The last query's caches are released by
# io.release_caches() (or session stop).
_CURRENT_SCOPE: list[str | None] = [None]


def _scoped(name: str, fn):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from jp_qcew_spark.io import release_caches

        if _CURRENT_SCOPE[0] != name:
            release_caches()
            _CURRENT_SCOPE[0] = name
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", name)
    wrapped.__doc__ = fn.__doc__
    wrapped.__wrapped__ = fn
    return wrapped


def _load():
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod_name in _GROUPS:
        try:
            mod = import_module(mod_name)
        except ModuleNotFoundError:
            continue  # group not built yet
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r} in {mod_name}")
            queries[name] = fn
        for name, sql in getattr(mod, "ORACLE", {}).items():
            oracles[name] = sql
    missing = [n for n in _WINDOW_PRIORITY if n not in queries]
    if missing:
        raise ValueError(f"_WINDOW_PRIORITY names unknown queries: {missing}")
    prio = {n: i for i, n in enumerate(_WINDOW_PRIORITY)}
    ordered = sorted(
        enumerate(queries), key=lambda t: (prio.get(t[1], len(prio) + t[0]), t[0])
    )
    queries = {n: _scoped(n, queries[n]) for _, n in ordered}
    return queries, oracles


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _load()[0]


def all_oracles() -> dict[str, str]:
    return _load()[1]
