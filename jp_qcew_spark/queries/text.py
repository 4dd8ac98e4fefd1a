"""Text-analysis queries over ``documents`` (north-star LLM-pipeline tier).

Spark side uses the column builders in ``jp_qcew_spark.functions.text``
(pure JVM expressions); oracles re-derive identical values with DuckDB list
lambdas / regex functions.

Whitespace contract (late-r11 review adjudication): tokenization is
pinned on the [ \\t\\n\\f\\r] class the three regex engines in play
agree on — Java ``\\s`` (Spark) additionally matches \\x0b, Python
``str.split`` (the UDTF) matches \\x0b/\\x85/\\xa0, RE2 (DuckDB)
matches none of those — so corpora are expected to carry only the
common-subset whitespace (true of every oracle fixture and of
NFC-normalized crawl text after the usual control-char scrub). A
deployment whose charset includes \\x0b/\\xa0 must normalize them to
spaces upstream (one ``regexp_replace`` before ingest); aligning three
engines' ``\\s`` classes per-query would churn every text oracle for a
byte range the pipeline's own cleaning stage removes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.functions import text as X
from jp_qcew_spark.io import load_table, order_result, widen_scan


def _docs(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """Project `documents` to the referenced columns and widen the scan:
    every query in this module does real per-row text compute (regex,
    tokenization, hashing), so a few-split compressed corpus must not pin
    the map stage to 1-2 cores (io.widen_scan — no-op on many-file
    corpora). The explicit select keeps pruning visible in the plan
    through the conditional exchange."""
    return widen_scan(load_table(spark, sf_dir, "documents").select(*cols))

_EN = ", ".join(f"'{w}'" for w in X.EN_STOPWORDS)
_ES = ", ".join(f"'{w}'" for w in X.ES_STOPWORDS)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: words, non-space chars, avg word length, punct."""
    d = _docs(spark, sf_dir, "doc_id", "text")
    t = F.col("text")
    return d.select(
        "doc_id",
        X.word_count(t).alias("n_words"),
        X.nonspace_len(t).alias("n_nonspace"),
        X.avg_word_len(t).alias("avg_word_len"),
        X.punct_count(t).alias("n_punct"),
    ).transform(order_result, "doc_id")


ORACLE_TEXT_STATS = r"""
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_words,
       CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_nonspace,
       CASE WHEN trim(text) = '' THEN NULL
            ELSE round(length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
                 / len(regexp_split_to_array(trim(text), '\s+')), 4) END AS avg_word_len,
       CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
FROM documents ORDER BY doc_id
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score + decile bucketing (suppression-style HAVING
    on the bucket counts)."""
    d = _docs(spark, sf_dir, "doc_id", "text")
    t = F.col("text")
    scored = d.select("doc_id", X.quality_score(t).alias("quality"))
    return (
        scored.withColumn(
            "bucket", F.floor(F.col("quality") * 10).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .transform(order_result, "bucket")
    )


ORACLE_TEXT_QUALITY = rf"""
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> x IN ({_EN}))) AS sw,
         length(regexp_replace(text, '\s+', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(text) AS total
  FROM documents
), scored AS (
  SELECT doc_id,
         CASE WHEN n = 0 OR total = 0 THEN NULL
              ELSE round(0.4 * (sw::DOUBLE / n)
                   + 0.3 * least(nonspace::DOUBLE / n / 10.0, 1.0)
                   + 0.3 * (alpha::DOUBLE / total), 4) END AS quality
  FROM toks
)
SELECT CAST(floor(quality * 10) AS BIGINT) AS bucket,
       count(*) AS n_docs,
       round(avg(quality), 4) AS avg_quality
FROM scored GROUP BY 1 ORDER BY bucket
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language heuristic vs the labeled ``lang`` column —
    confusion-matrix style counts."""
    d = _docs(spark, sf_dir, "lang", "text")
    t = F.col("text")
    return (
        d.select("lang", X.lang_guess(t).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n_docs"))
        .transform(order_result, "lang", "lang_guess")
    )


ORACLE_TEXT_LANGID = rf"""
WITH hits AS (
  SELECT lang,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> x IN ({_EN}))) AS en,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> x IN ({_ES}))) AS es
  FROM documents
), guessed AS (
  SELECT lang,
         CASE WHEN en = 0 AND es = 0 THEN 'und'
              WHEN en >= es THEN 'en' ELSE 'es' END AS lang_guess
  FROM hits
)
SELECT lang, lang_guess, count(*) AS n_docs
FROM guessed GROUP BY 1, 2 ORDER BY lang, lang_guess
"""


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting per source (alpha/digit runs + punct)."""
    d = _docs(spark, sf_dir, "source", "text")
    t = F.col("text")
    return (
        d.select("source", X.bpe_token_count(t).alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
        .transform(order_result, "source")
    )


ORACLE_TEXT_TOKEN_COUNT = r"""
WITH t AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
              AS BIGINT) AS n_tokens
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 4) AS avg_tokens
FROM t GROUP BY source ORDER BY source
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized md5 fingerprint per document (the exact-dedup key)."""
    d = _docs(spark, sf_dir, "doc_id", "text")
    return d.select(
        "doc_id", X.fingerprint(F.col("text")).alias("fp")
    ).transform(order_result, "doc_id")


ORACLE_TEXT_FINGERPRINT = r"""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
FROM documents ORDER BY doc_id
"""


QUERIES = {
    "text_stats": q_text_stats,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_token_count": q_text_token_count,
    "text_fingerprint": q_text_fingerprint,
}

ORACLE = {
    "text_stats": ORACLE_TEXT_STATS,
    "text_quality": ORACLE_TEXT_QUALITY,
    "text_langid": ORACLE_TEXT_LANGID,
    "text_token_count": ORACLE_TEXT_TOKEN_COUNT,
    "text_fingerprint": ORACLE_TEXT_FINGERPRINT,
}


# --------------------------------------------------------------------------
# text_chunk — context-window passage chunking
# --------------------------------------------------------------------------

_CHUNK_WORDS = 64
_CHUNK_STRIDE = 48  # 16-word overlap between consecutive chunks


def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window passage chunking — every doc split into 64-word
    chunks with 16-word overlap, the preprocessing step that fits documents
    to a model's context window (RAG passage stores, pretraining sequence
    prep). Entirely declarative: chunk starts come from ``F.sequence`` +
    ``posexplode`` and the chunk itself from ``F.slice`` — array codegen,
    no UDF, so chunking runs map-side at scan speed and the output is
    deterministic for the oracle.

    Scale: pure per-row fan-out (≤ n_words/stride chunks per doc), no
    shuffle at all until a downstream consumer groups — the plan is a
    single scan-project-generate stage."""
    d = _docs(spark, sf_dir, "doc_id", "text")
    ws = F.split(F.trim("text"), r"\s+")
    base = d.select("doc_id", ws.alias("ws"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("ws") - 1, F.lit(0)),
        F.lit(_CHUNK_STRIDE),
    )
    chunk = F.slice("ws", F.col("st") + 1, _CHUNK_WORDS)
    return (
        base.select("doc_id", "ws", F.posexplode(starts).alias("cid", "st"))
        .select(
            "doc_id",
            F.col("cid").cast("long").alias("chunk_id"),
            # size(NULL array) = -1 with ANSI off vs SQL len(NULL) =
            # NULL: a NULL-text doc still emits one chunk row on both
            # engines, so pin chunk_words to NULL there (late-r11
            # review, confirmed divergence)
            F.when(
                F.col("ws").isNull(), F.lit(None).cast("long")
            ).otherwise(F.size(chunk).cast("long")).alias("chunk_words"),
            F.length(F.array_join(chunk, " ")).cast("long").alias(
                "chunk_chars"
            ),
        )
        .transform(order_result, "doc_id", "chunk_id")
    )


ORACLE_TEXT_CHUNK = rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents
), s AS (
  SELECT doc_id, ws,
         unnest(range(0, greatest(len(ws) - 1, 0) + 1, {_CHUNK_STRIDE})) AS st
  FROM w
)
SELECT doc_id,
       CAST(st // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(ws[st+1:st+{_CHUNK_WORDS}]) AS BIGINT) AS chunk_words,
       CAST(length(array_to_string(ws[st+1:st+{_CHUNK_WORDS}], ' ')) AS BIGINT)
           AS chunk_chars
FROM s ORDER BY doc_id, chunk_id
"""

QUERIES["text_chunk"] = q_text_chunk
ORACLE["text_chunk"] = ORACLE_TEXT_CHUNK


# --------------------------------------------------------------------------
# text_bigrams — bigram language-model counts
# --------------------------------------------------------------------------


def _bigram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2) adjacent-token pairs of the corpus — the ONE copy of the
    bigram extraction both bigram surfaces share (late-r11 review:
    ``q_text_bigrams`` and ``q_text_pmi_assoc`` carried the block
    verbatim twice, so a tokenization fix applied to one would silently
    fork the other). A single array expression
    (``transform(sequence(...))`` index lambda) exploded map-side — no
    join, no UDF."""
    d = _docs(spark, sf_dir, "text")
    base = d.select(F.split(F.trim("text"), r"\s+").alias("ws")).filter(
        F.size("ws") >= 2
    )
    return base.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws)-1),"
                " i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")


# the oracle twin of _bigram_pairs, shared by both bigram oracles
_BIGRAM_CTES = r"""w AS (
  SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
), b AS (
  SELECT ws[i] AS w1, ws[i+1] AS w2
  FROM w, unnest(range(1, len(ws))) AS t(i)
  WHERE len(ws) >= 2
)"""


def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 next-token continuations per head token with counts — the
    bigram conditional-frequency table that seeds classical LM features and
    corpus browsing.  Bigram extraction is a single array expression
    (``transform(sequence(...))`` over the split words — index lambda, no
    join, no UDF) exploded map-side; the rank window partitions by head
    token, so parallelism scales with vocabulary size, not corpus size.
    Tie-break (count desc, token asc) pins the cut."""
    from pyspark.sql import Window as W

    bg = _bigram_pairs(spark, sf_dir)
    counts = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n"))
    w = W.partitionBy("w1").orderBy(F.col("n").desc(), F.col("w2").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("w1", F.col("rk").cast("long").alias("rk"), "w2", "n")
        .transform(order_result, "w1", "rk")
    )


ORACLE_TEXT_BIGRAMS = rf"""
WITH {_BIGRAM_CTES}, counts AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY w1, w2
), ranked AS (
  SELECT w1, w2, n,
         row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2 ASC) AS rk
  FROM counts
)
SELECT w1, CAST(rk AS BIGINT) AS rk, w2, n
FROM ranked WHERE rk <= 3 ORDER BY w1, rk
"""


# --------------------------------------------------------------------------
# text_inverted_index — token → posting-list construction
# --------------------------------------------------------------------------


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: every token mapped to its document frequency and the
    first 16 doc_ids of its sorted posting list — the search-engine build
    step.  One explode + distinct (map-side pre-aggregated by Spark's
    distinct), one shuffle on token; ``sort_array(collect_set(...))`` makes
    the posting order engine-independent, and the 16-element cap bounds the
    row width for ubiquitous tokens (a real index would chunk postings into
    fixed-size blocks the same way).  The posting list is emitted as a
    comma-joined string — final projections never carry array/map/struct
    columns (harness canonicalizers can't hash them)."""
    d = _docs(spark, sf_dir, "doc_id", "text")
    tok = (
        d.select(
            "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
        )
        .distinct()
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, 16), ","
            ).alias("postings"),
        )
        .transform(order_result, "token")
    )


ORACLE_TEXT_INVERTED_INDEX = r"""
WITH tok AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents
)
SELECT token, CAST(count(*) AS BIGINT) AS df,
       array_to_string((list(doc_id ORDER BY doc_id))[1:16], ',') AS postings
FROM tok GROUP BY token ORDER BY token
"""

QUERIES["text_bigrams"] = q_text_bigrams
ORACLE["text_bigrams"] = ORACLE_TEXT_BIGRAMS
QUERIES["text_inverted_index"] = q_text_inverted_index
ORACLE["text_inverted_index"] = ORACLE_TEXT_INVERTED_INDEX


# --------------------------------------------------------------------------
# udtf_tokenize — Python UDTF (table function) surface, Spark 4
# --------------------------------------------------------------------------


def q_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional tokenization through a Python **UDTF** joined LATERAL —
    the table-function member of the UDF tier (SURVEY §2.J lists scalar
    pandas_udf / applyInPandas / mapInPandas; this completes the set with
    one row IN, many rows OUT per-row expansion as a first-class relation).

    Semantically ≡ ``posexplode(split(text))`` — the built-in stays the hot
    path; the UDTF form exists for expansions whose per-row logic is real
    Python (custom tokenizers, parsers).  Runs partition-parallel with no
    shuffle before the final presentation sort; the doc_id predicate is
    applied before the lateral join so the UDTF only sees matching rows.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class _Tokenize:
        def eval(self, text: str):  # noqa: ANN001 — UDTF contract
            if text:
                for i, t in enumerate(text.split()):
                    yield i, t

    spark.udtf.register("tokenize_udtf", _Tokenize)
    # Blank docs are excluded symmetrically with the oracle: the UDTF yields
    # zero rows for whitespace-only text while DuckDB's regexp_split_to_array
    # would emit one ['']; the shared trim(text) <> '' guard removes the
    # divergence on both sides.
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .filter(F.trim(F.col("text")) != "")
    )
    d.createOrReplaceTempView("_udtf_docs")
    tokens = spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM _udtf_docs d, LATERAL tokenize_udtf(d.text) t
        """
    )
    return order_result(tokens, "doc_id", "pos")


ORACLE_UDTF_TOKENIZE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents WHERE doc_id < 20 AND trim(text) <> ''
)
SELECT doc_id, CAST(i - 1 AS INT) AS pos, ws[i] AS token
FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
ORDER BY doc_id, pos
"""

QUERIES["udtf_tokenize"] = q_udtf_tokenize
ORACLE["udtf_tokenize"] = ORACLE_UDTF_TOKENIZE


# --------------------------------------------------------------------------
# text_lm_score — corpus-trained unigram-LM quality score (CCNet-style)
# --------------------------------------------------------------------------


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average token log-probability under a unigram LM
    trained on the corpus itself — the classic LM-perplexity quality
    filter (CCNet / GPT-3-style curation): gibberish and boilerplate score
    far from the corpus mode and can be thresholded out.

    Two distributed passes, both keyed:
    1. MODEL: token counts over the corpus (one shuffle on token); the
       corpus total is a 1-row aggregate cross-joined back onto the
       vocab-sized model — the bounded-broadcast scalar pattern, so
       ``log p(w) = ln(c/N)`` is attached map-side to the model rows.
    2. SCORE: tokens ⋈ model on token (same join shape as ``text_tfidf``),
       then a per-doc average.  Head tokens ("the") skew the join key —
       at cluster scale AQE's skew-join split handles it, and the model
       side is 1 row per token so fan-out is stream-friendly.  The 100 TB
       variant caps the model to a top-K vocabulary broadcast with an OOV
       floor probability; full-vocab join is kept here because the oracle
       must see identical mass.

    Blank/NULL docs are excluded symmetrically (``trim(text) <> ''`` is
    NULL-safe false on both engines)."""
    d = _docs(spark, sf_dir, "doc_id", "text").filter(F.trim("text") != "")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    )
    model = toks.groupBy("w").agg(F.count("*").cast("double").alias("c"))
    total = model.agg(F.sum("c").alias("n_total"))
    model = model.crossJoin(F.broadcast(total)).select(
        "w", F.log(F.col("c") / F.col("n_total")).alias("logp")
    )
    return (
        toks.join(model, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg("logp"), 4).alias("avg_logp"),
        )
        .transform(order_result, "doc_id")
    )


ORACLE_TEXT_LM_SCORE = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents WHERE trim(text) <> ''
), model AS (
  SELECT w, count(*)::DOUBLE AS c FROM toks GROUP BY w
), tot AS (SELECT sum(c) AS n_total FROM model)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(ln(c / n_total)), 4) AS avg_logp
FROM toks JOIN model USING (w) CROSS JOIN tot
GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["text_lm_score"] = q_text_lm_score
ORACLE["text_lm_score"] = ORACLE_TEXT_LM_SCORE


# --------------------------------------------------------------------------
# text_entropy — char-distribution Shannon entropy (gibberish detector)
# --------------------------------------------------------------------------


_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's lowercase-letter distribution —
    the cheap gibberish/repetition detector (natural prose sits near the
    language's ~4.1-bit letter entropy; keyboard mash and repeated spam
    collapse toward 0).

    Entirely MAP-SIDE and fully whole-stage-codegen: the 26-letter
    histogram is 26 ``length(text) − length(replace(text, letter))``
    expressions — tight JVM string scans that CSE the shared ``lower()``
    — summed into ``-Σ p·log2 p`` in one fixed a-z fold. The first cut
    used nested higher-order lambdas (``transform``/``filter`` over the
    char array); those run INTERPRETED and re-evaluate the array per
    distinct letter — measured 25 s vs <1 s for this form at sf0.1, a
    25× cliff entirely inside one projection. Lesson pinned here: a
    fixed, small alphabet belongs in unrolled codegen'd expressions, not
    data-dependent lambdas.  No explode, no shuffle, no UDF —
    parallelism is embarrassingly per-document at any corpus size.

    NULL docs pin entropy 0.0 on both engines (``length(NULL)`` is NULL,
    so the ``n > 0`` guard is false), as do letterless docs.

    Parallelism floor: 26 scans/row make this projection COMPUTE-dense —
    the query that exposed the split-starvation cliff now documented on
    ``io.widen_scan`` (sf1's one-file corpus scanned as 2 splits; 15.5 s
    on 2 of 32 cores vs 1.9 s widened)."""
    d = _docs(spark, sf_dir, "doc_id", "text")
    low = F.lower(F.col("text"))
    # Layered projections keep each codegen'd stage small: inlining n
    # (itself a 26-term sum of string scans) into all 52 of its uses in the
    # entropy fold overflowed the generated method and fell back to the
    # interpreter; as named columns the counts stay attributes and each
    # select compiles. Catalyst leaves the layering alone (CollapseProject
    # skips aliases that a merge would duplicate non-cheaply).
    counted = d.select(
        "doc_id",
        *[
            (F.length(low) - F.length(F.replace(low, F.lit(ch))))
            .cast("double")
            .alias(f"c_{ch}")
            for ch in _LETTERS
        ],
    )
    n = counted[f"c_{_LETTERS[0]}"]
    for ch in _LETTERS[1:]:
        n = n + counted[f"c_{ch}"]
    with_n = counted.withColumn("n", n)
    terms = F.lit(0.0)
    for ch in _LETTERS:
        c = F.col(f"c_{ch}")
        p = c / F.col("n")
        terms = terms + F.when(c > 0, p * F.log2(p)).otherwise(F.lit(0.0))
    ent = F.when(F.col("n") > 0, F.round(-terms, 4)).otherwise(F.lit(0.0))
    return order_result(
        with_n.select("doc_id", ent.alias("entropy")), "doc_id"
    )


def _entropy_oracle() -> str:
    cnt = {
        ch: f"(length(lower(text)) - length(replace(lower(text), '{ch}', '')))::DOUBLE"
        for ch in _LETTERS
    }
    n = " + ".join(f"c_{ch}" for ch in _LETTERS)
    cols = ",\n         ".join(f"{cnt[ch]} AS c_{ch}" for ch in _LETTERS)
    terms = " + ".join(
        f"CASE WHEN c_{ch} > 0 THEN (c_{ch}/n)*log2(c_{ch}/n) ELSE 0.0 END"
        for ch in _LETTERS
    )
    return f"""
WITH counts AS (
  SELECT doc_id,
         {cols}
  FROM documents
), tot AS (
  SELECT doc_id, {n} AS n, * FROM counts
)
SELECT doc_id,
       CASE WHEN n > 0 THEN round(-({terms}), 4) ELSE 0.0 END AS entropy
FROM tot ORDER BY doc_id
"""


ORACLE_TEXT_ENTROPY = _entropy_oracle()

QUERIES["text_entropy"] = q_text_entropy
ORACLE["text_entropy"] = ORACLE_TEXT_ENTROPY


def q_text_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram log-probability — the conditional-model
    step up from ``text_lm_score``'s unigram: P(w|w_prev) = c(w_prev,w) /
    c(w_prev) (MLE; every scored bigram exists in the corpus-trained
    model, so no smoothing mass is needed and the oracle sees identical
    values). Word-order scrambling that unigram perplexity cannot see
    drops a document's score here — the complementary curation gate.

    Three keyed passes, no new shapes: bigrams from ONE doc-keyed lead
    window over positioned tokens; the bigram model is a (w, w2) count
    shuffle; context counts RE-AGGREGATE the bigram model (vocab-sized,
    never a second corpus pass); scoring joins bigrams to the model on
    (w, w2) — same skew posture as text_lm_score (AQE skew-split, top-K
    broadcast variant at 100 TB). Docs with under two tokens have no
    bigrams and drop out symmetrically on both engines."""
    d = _docs(spark, sf_dir, "doc_id", "text").filter(F.trim("text") != "")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
            "pos", "w"
        ),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.withColumn("w2", F.lead("w").over(w_doc))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "w", "w2")
    )
    bmodel = big.groupBy("w", "w2").agg(F.count("*").cast("double").alias("c"))
    ctx = bmodel.groupBy("w").agg(F.sum("c").alias("cp"))
    model = bmodel.join(ctx, "w").select(
        "w", "w2", F.log(F.col("c") / F.col("cp")).alias("logp")
    )
    return (
        big.join(model, ["w", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg("logp"), 4).alias("avg_logp"),
        )
        .transform(order_result, "doc_id")
    )


ORACLE_TEXT_LM_BIGRAM = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w,
         generate_subscripts(
           regexp_split_to_array(lower(trim(text)), '\s+'), 1) AS pos
  FROM documents WHERE trim(text) <> ''
), big AS (
  SELECT doc_id, w, w2 FROM (
    SELECT doc_id, w,
           lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks
  ) WHERE w2 IS NOT NULL
), bm AS (
  SELECT w, w2, count(*)::DOUBLE AS c FROM big GROUP BY 1, 2
), ctx AS (
  SELECT w, sum(c) AS cp FROM bm GROUP BY 1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln(c / cp)), 4) AS avg_logp
FROM big JOIN bm USING (w, w2) JOIN ctx USING (w)
GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["text_lm_bigram"] = q_text_lm_bigram
ORACLE["text_lm_bigram"] = ORACLE_TEXT_LM_BIGRAM


# --------------------------------------------------------------------------
# text_pmi_assoc — pointwise-mutual-information collocations (round 7)
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 5  # support floor: PMI is unstable on rare pairs


def q_text_pmi_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PMI collocations over the corpus — the association-strength
    complement to ``text_bigrams``' conditional counts: lift =
    ``P(ab) / (P(a)·P(b))`` ranks word pairs that co-occur far more than
    independence predicts (collocation extraction, tokenizer-merge
    candidates, boilerplate phrase discovery). Pairs under a support
    floor are dropped first — PMI explodes on hapax pairs.

    The query emits the RAW LIFT ratio, not ``ln(lift)``: the numerator
    and denominator are exact integer products (< 2^53 here) and one
    IEEE division is bit-identical across engines, while ``ln`` is libm-
    dependent — the PMI ordering is identical either way since ln is
    monotone. (At 100 TB the integer products can pass 2^53; switch the
    final expression to log-space subtraction there.)

    Scale shape: ONE corpus-sized shuffle (the bigram count); the margin
    sums and the grand total are windows/aggregates over the bigram-TYPE
    table, which is Heaps-law sublinear in the corpus; the 1-row total
    broadcasts. Nothing quadratic, no UDFs, all codegen'd."""
    from pyspark.sql import Window as W

    bg = _bigram_pairs(spark, sf_dir)
    counts = bg.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("n_ab")
    )
    tot = counts.agg(F.sum("n_ab").cast("long").alias("n_tot"))
    scored = (
        counts.withColumn(
            "n_a", F.sum("n_ab").over(W.partitionBy("w1")).cast("long")
        )
        .withColumn(
            "n_b", F.sum("n_ab").over(W.partitionBy("w2")).cast("long")
        )
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_ab") >= _PMI_MIN_COUNT)
        .withColumn(
            "lift",
            (F.col("n_ab") * F.col("n_tot")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
        )
    )
    return (
        scored.select("w1", "w2", "n_ab", "n_a", "n_b", "lift")
        .orderBy(F.col("lift").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(30)
    )


ORACLE_TEXT_PMI_ASSOC = rf"""
WITH {_BIGRAM_CTES}, counts AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM b GROUP BY w1, w2
), sc AS (
  SELECT w1, w2, n_ab,
         CAST(sum(n_ab) OVER (PARTITION BY w1) AS BIGINT) AS n_a,
         CAST(sum(n_ab) OVER (PARTITION BY w2) AS BIGINT) AS n_b,
         CAST(sum(n_ab) OVER () AS BIGINT) AS n_tot
  FROM counts
)
SELECT w1, w2, n_ab, n_a, n_b,
       CAST(n_ab * n_tot AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS lift
FROM sc WHERE n_ab >= {_PMI_MIN_COUNT}
ORDER BY lift DESC, w1 ASC, w2 ASC
LIMIT 30
"""

QUERIES["text_pmi_assoc"] = q_text_pmi_assoc
ORACLE["text_pmi_assoc"] = ORACLE_TEXT_PMI_ASSOC


# --------------------------------------------------------------------------
# text_chunk_overlap — overlapping-window RAG chunking (round 8)
# --------------------------------------------------------------------------

_OVL_LEN = 32   # tokens per chunk
_OVL_STRIDE = 24  # tokens between chunk starts (overlap = 8)


def q_text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking — the retrieval/embedding-prep
    step every RAG and long-context training pipeline runs before
    vectorizing: split each document into 32-token windows starting every
    24 tokens (8-token overlap so no sentence is cut at both sides),
    one output row per chunk with its token count and an 8-hex content
    signature (the chunk-level dedup / cache key).

    Chunk starts are ``0, 24, 48, …`` while < n_tokens, i.e.
    ``floor((n-1)/24) + 1`` chunks for an n-token document — the grid is
    derived per-row with ``sequence`` + ``slice`` inside ONE whole-stage-
    codegen projection: no UDF, no window shuffle, no self-join; the only
    exchange in the plan is the final presentation sort.  Fan-out is
    ~n/24 rows per document regardless of corpus size, so the operator
    is embarrassingly parallel at 100 TB (chunking is a map).  The
    signature is md5 over the space-rejoined window (same digest text
    both engines).  Reference parity: extension tier — the reference
    tokenizes whole documents only (SURVEY §2 F-tier)."""
    d = (
        _docs(spark, sf_dir, "doc_id", "text")
        .filter(F.trim("text") != "")
        .withColumn("toks", F.split(F.lower(F.trim("text")), r"\s+"))
    )
    chunks = d.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(
                f"sequence(0, CAST(floor((size(toks) - 1) / {_OVL_STRIDE})"
                " AS INT))"
            )
        ).alias("k"),
    ).select(
        "doc_id",
        F.col("k").cast("long").alias("chunk_id"),
        F.expr(f"slice(toks, k * {_OVL_STRIDE} + 1, {_OVL_LEN})").alias(
            "c"
        ),
    )
    return (
        chunks.select(
            "doc_id",
            "chunk_id",
            F.size("c").cast("long").alias("n_tokens"),
            F.substring(F.md5(F.concat_ws(" ", "c")), 1, 8).alias(
                "chunk_sig"
            ),
        )
        .transform(order_result, "doc_id", "chunk_id")
    )


ORACLE_TEXT_CHUNK_OVERLAP = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE trim(text) <> ''
), grid AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(floor((len(toks) - 1) / {_OVL_STRIDE})
                              AS BIGINT) + 1)) AS k
  FROM d
), ch AS (
  SELECT doc_id, k AS chunk_id,
         list_slice(toks, k * {_OVL_STRIDE} + 1,
                    k * {_OVL_STRIDE} + {_OVL_LEN}) AS c
  FROM grid
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(c) AS BIGINT) AS n_tokens,
       substr(md5(array_to_string(c, ' ')), 1, 8) AS chunk_sig
FROM ch
ORDER BY doc_id, chunk_id
"""

QUERIES["text_chunk_overlap"] = q_text_chunk_overlap
ORACLE["text_chunk_overlap"] = ORACLE_TEXT_CHUNK_OVERLAP
