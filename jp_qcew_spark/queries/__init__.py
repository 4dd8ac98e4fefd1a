"""Driver-facing query registry.

Aggregates every query group into two dicts consumed by ``__spark_entry__``:

- ``all_queries()``  : name -> callable(spark, sf_dir) -> DataFrame
- ``all_oracles()``  : name -> equivalent DuckDB SQL (omitted for ops that are
  genuinely not SQL-expressible; the driver then records a rows-only check).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

from jp_qcew_spark.io import enter_scope

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

# Driver-window rotation: the driver's correctness snapshot covers only
# the FIRST 50 registry entries, so registration order is evidence policy.
# Rotate this list every round: queries changed this round first, then the
# oldest driver evidence. Everything not listed follows in module order.
# The per-round rationale lives in BASELINE.md ("Driver window history").
_WINDOW_PRIORITY = [
    # -- changed: one LSH candidate layer (ext.dedup.band_pairs /
    #    _band_pairs_sql, _minhash_cand, _sign_buckets, _cos_sql) and
    #    the footer-sized CEP replay
    "dedup_minhash_lsh",
    "dedup_minhash_est_eval",
    "dedup_minhash_target",
    "dedup_minhash_recall_eval",
    "stream_dedup_neardup",
    "dedup_embedding_cos",
    "dedup_embedding_rp",
    "dedup_embedding_rp_target",
    "dedup_recall_eval",
    "dedup_recall_target_eval",
    "knn_lsh_banded",
    "knn_recall_eval",
    "knn_recall_rp",
    "knn_signlsh",
    "knn_multiprobe",
    "semdedup_lsh",
    "knn_graph_mutual",
    "semdedup_mutual",
    "semdedup_rp",
    "graph_label_prop",
    "knn_ivf",
    "stream_cep_sequence",
    # -- changed: the stream twins build on their batch twins
    #    (streaming.pipelines.replay_stream, the batch oracles by
    #    reference, sketches._cms_probes / _cms_topk and the shared SQL
    #    read-outs)
    "stream_python_source",
    "stream_quantile_hist",
    "stream_countmin_topk",
    "stream_hll_distinct",
    "stream_dedup_incremental",
    "stream_quality_gate",
    "stream_session",
    "stream_sliding",
    "stream_cdc_apply",
    "sketch_countmin_topk",
    "sketch_quantile_hist",
    # -- changed: the multimodal codecs share one payload stage and one
    #    decode stage (ext.multimodal._payloads / _decode) — all 11 mm_*
    "mm_metadata",
    "mm_decode_features",
    "mm_frame_sample",
    "mm_ppm_decode",
    "mm_png_decode",
    "mm_gif_decode",
    "mm_wav_decode",
    "mm_bmp_decode",
    "mm_tga_decode",
    "mm_audio_frames",
    "mm_tiff_decode",
    # -- changed in round 15: connected-components local finish
    "dedup_components",
    "dedup_keep_best",
    "dedup_keep_best_eval",
    # -- changed in round 15: threaded eval variants
    "knn_pq_residual_eval",
    "knn_pq_opq_eval",
    # -- the other stream consumers, all drained by run_to_memory
    "stream_python_source_sharded",
]



def _scoped(name: str, fn):
    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        enter_scope(name)
        return fn(spark, sf_dir)

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
