"""End-to-end LLM training-data preparation pipeline — the north-star
composition: quality gate → language filter → exact dedup → near-dup
(MinHash-LSH) removal → per-survivor token accounting.

One lazy DataFrame chain; Catalyst fuses the scalar gates into the scan
projection, and the only shuffles are the two dedup keys (fingerprint,
band-key/shingle) — i.e. the pipeline cost IS the dedup cost, the right
shape at 100 TB. Every stage reuses the operator modules (functions.text,
ext.dedup), so this is composition, not re-implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.ext import dedup as D
from jp_qcew_spark.functions.text import (
    bpe_token_count,
    fingerprint,
    lang_guess,
    quality_score,
    word_count,
)
from jp_qcew_spark.io import cache_parallel, load_table, order_result
from jp_qcew_spark.queries.dedup import _jaccard, _overlap, _overlap_sql

_MIN_QUALITY = 0.4
_MIN_WORDS = 5
_JACCARD_MAX = 0.5  # near-dup threshold: drop the higher doc_id of any pair


def q_llm_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving corpus after the full prep chain, with token counts.

    Stages (all deterministic, keeper = smallest doc_id):
      1. quality_score ≥ 0.4 AND ≥ 5 words     (scalar gate, scan-fused)
      2. lang_guess = 'en'                      (scalar gate)
      3. exact dedup on normalized fingerprint  (keep min doc_id)
      4. near-dup removal: shared-shingle Jaccard ≥ 0.5 → drop the larger id
      5. output doc_id, words, bpe_tokens — the budget accounting columns
    """
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    gated = (
        d.select(
            "doc_id",
            "text",
            quality_score(t).alias("quality"),
            word_count(t).alias("words"),
            lang_guess(t).alias("lang"),
            fingerprint(t).alias("fp"),
            bpe_token_count(t).alias("bpe_tokens"),
        )
        .filter(
            (F.col("quality") >= _MIN_QUALITY)
            & (F.col("words") >= _MIN_WORDS)
            & (F.col("lang") == "en")
        )
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    exact_kept = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    exact_kept = cache_parallel(exact_kept)
    # near-dup pairs among survivors: the shared-shingle pairs of
    # queries.dedup. Losers (one row per dropped doc) grow with the corpus,
    # so the anti join carries no broadcast hint
    ex = cache_parallel(
        D.stop_shingle_filter(D.exploded_shingles(exact_kept, "doc_id", "text"))
    )
    losers = (
        _overlap(ex, ex)
        .filter(_jaccard() >= _JACCARD_MAX)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    survivors = exact_kept.join(losers, "doc_id", "left_anti")
    return (
        survivors.select("doc_id", "quality", "words", "bpe_tokens")
        .transform(order_result, "doc_id")
    )


# The oracle re-derives the whole chain in SQL (quality formula inlined from
# functions.text; the shared-shingle pairs from queries.dedup._overlap_sql).
_EN = ",".join(f"'{w}'" for w in
               ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"))
_ES = ",".join(f"'{w}'" for w in
               ("el", "la", "de", "que", "y", "en", "los", "un", "es", "por"))

ORACLE_LLM_PREP = rf"""
WITH feats AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS words,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> x IN ({_EN}))) AS en_hits,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> x IN ({_ES}))) AS es_hits,
         length(regexp_replace(text, '\s+', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(text) AS total,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
           AS bpe_tokens
  FROM documents
), scored AS (
  SELECT *,
         CASE WHEN words = 0 OR total = 0 THEN NULL
              ELSE round(0.4 * (en_hits * 1.0 / words)
                   + 0.3 * least((nonspace * 1.0 / words) / 10.0, 1.0)
                   + 0.3 * (alpha * 1.0 / total), 4) END AS quality,
         CASE WHEN en_hits = 0 AND es_hits = 0 THEN 'und'
              WHEN en_hits >= es_hits THEN 'en' ELSE 'es' END AS lang
  FROM feats
), gated AS (
  SELECT * FROM scored
  WHERE quality >= 0.4 AND words >= 5 AND lang = 'en'
), exact_kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
), sh0 AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(len(regexp_split_to_array(trim(text), '\s+')) - 2),
           i -> list_extract(regexp_split_to_array(trim(text), '\s+'), i+1)
             || ' ' || list_extract(regexp_split_to_array(trim(text), '\s+'), i+2)
             || ' ' || list_extract(regexp_split_to_array(trim(text), '\s+'), i+3))))
           AS shingle
  FROM exact_kept
  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
), sh AS (
  -- stop-shingle cap, lockstep with ext.dedup.stop_shingle_filter
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh0
  ) WHERE df <= 32
), {_overlap_sql("pairs", "sh", "shingle")},
losers AS (
  SELECT DISTINCT doc_b AS doc_id FROM pairs
  WHERE inter * 1.0 / (sz_a + sz_b - inter) >= 0.5
)
SELECT doc_id, quality, words, bpe_tokens
FROM exact_kept
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
ORDER BY doc_id
"""


QUERIES = {"llm_prep_pipeline": q_llm_prep_pipeline}
ORACLE = {"llm_prep_pipeline": ORACLE_LLM_PREP}
