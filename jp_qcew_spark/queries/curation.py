r"""Corpus-curation operators (extension tier, round 2 part 2).

The ops a pretraining-data pipeline runs around dedup/quality/splits:

- ``decontaminate``     — benchmark decontamination: flag training docs that
                          share any word-5-gram with a held-out eval set
                          (the n-gram overlap rule used for public-benchmark
                          leakage scrubbing)
- ``scrub_denylist``    — denylist term scrubbing: mask denylisted terms and
                          report per-language hit/mask counts (the shape of
                          PII / boilerplate / tainted-marker redaction)
- ``domain_mix``        — uniform domain-mix resampling: deterministic
                          content-hash downsampling of every source to the
                          smallest source's size (integer-exact cutoffs)
- ``bloom_prefilter``   — bloom-filter join pruning: build an m-bit/k-hash
                          bloom set over a dim-side key and pre-filter the
                          fact side before the exact join — the runtime-
                          filter pattern, made engine-portable (and therefore
                          exactly hash-checkable) with multiplicative hashes
- ``dedup_incremental`` — new-batch-vs-corpus dedup: incoming docs are
                          dropped if their head fingerprint already exists in
                          the corpus, then deduped within the batch (the
                          incremental-ingest complement to ``dedup_exact``)

Every query is hash-checked against a DuckDB oracle — including the bloom
filter, whose portable integer hashes make even its false positives
bit-identical across engines. No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.ext import dedup as D
from jp_qcew_spark.functions import text as X
from jp_qcew_spark.io import (
    load_table,
    order_result,
    track_cache,
    trained_artifact,
    widen_scan,
)

# --------------------------------------------------------------------------
# decontaminate
# --------------------------------------------------------------------------

DECON_K = 5  # word-gram length for eval-overlap matching
EVAL_MOD = 31  # doc_id % EVAL_MOD == 0 -> held-out eval/benchmark doc


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination report: per source, how many training docs
    share at least one word-5-gram with the eval set (doc_id % 31 == 0 plays
    the role of a held-out benchmark here).

    Scale shape: both sides explode to (doc_id, shingle) rows
    (ext.dedup.exploded_shingles — codegen'd, no array lambdas). The
    eval side carries NO broadcast hint (late-r11 review): a real
    benchmark suite is bounded, but THIS fixture's eval set is
    doc_id % 31 — a fixed FRACTION of the corpus, so a forced broadcast
    would grow with it, exactly what the no-corpus-side-hint invariant
    forbids. AQE broadcasts the semi-join side at runtime whenever it
    is genuinely small (it is, at every tested scale), so the map-side
    zero-shuffle plan is unchanged in practice; a deployment with a
    truly fixed benchmark can re-add the hint at the call site.
    """
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev_sh = (
        D.exploded_shingles(d.filter(is_eval), "doc_id", "text", k=DECON_K)
        .select("shingle")
        .distinct()
    )
    train = d.filter(~is_eval)
    contam = (
        D.exploded_shingles(train, "doc_id", "text", k=DECON_K)
        .join(ev_sh, "shingle", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(1))
    )
    return (
        train.join(contam, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_train"),
            F.coalesce(F.sum("is_contam"), F.lit(0)).alias("n_contam"),
        )
        .withColumn("n_clean", F.col("n_train") - F.col("n_contam"))
        .transform(order_result, "source")
    )


ORACLE_DECONTAMINATE = rf"""
WITH w AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         array_to_string(ws[i+1:i+{DECON_K}], ' ') AS sh
  FROM w, unnest(range(len(ws) - {DECON_K} + 1)) AS t(i)
  WHERE len(ws) >= {DECON_K}
), ev AS (
  SELECT DISTINCT sh FROM g WHERE doc_id % {EVAL_MOD} = 0
), contam AS (
  SELECT DISTINCT g.doc_id FROM g JOIN ev USING (sh)
  WHERE g.doc_id % {EVAL_MOD} <> 0
)
SELECT d.source,
       count(*) AS n_train,
       CAST(count(c.doc_id) AS BIGINT) AS n_contam,
       CAST(count(*) - count(c.doc_id) AS BIGINT) AS n_clean
FROM documents d LEFT JOIN contam c ON d.doc_id = c.doc_id
WHERE d.doc_id % {EVAL_MOD} <> 0
GROUP BY d.source ORDER BY d.source
"""


# --------------------------------------------------------------------------
# scrub_denylist
# --------------------------------------------------------------------------

# \b word-boundary alternation — identical semantics in Java regex (Spark)
# and RE2 (DuckDB) for ASCII word terms
_DENY_PAT = r"\b(customer|spark|hash)\b"
_MASK = "[MASK]"


def q_scrub_denylist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denylist scrubbing: mask every denylisted term, report per-language
    doc/hit counts and the total scrubbed-text length (which pins that the
    replacement itself — not just the count — is identical). This is the
    exact shape of PII redaction at scale: one map-side regexp pass fused
    into the scan, no shuffle until the final small rollup (plus the
    conditional scan-widening exchange, io.widen_scan — the regexp pass
    is compute-dense and must not run on 1-2 splits)."""
    d = widen_scan(load_table(spark, sf_dir, "documents").select("lang", "text"))
    hits = F.regexp_count(F.col("text"), F.lit(_DENY_PAT))
    scrubbed = F.regexp_replace(F.col("text"), _DENY_PAT, _MASK)
    return (
        d.select(
            "lang",
            hits.alias("n_hits"),
            F.length(scrubbed).alias("scrub_len"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_hits") > 0).cast("long")).alias("docs_hit"),
            F.sum("n_hits").cast("long").alias("n_masked"),
            F.sum("scrub_len").cast("long").alias("scrub_chars"),
        )
        .transform(order_result, "lang")
    )


ORACLE_SCRUB_DENYLIST = rf"""
WITH s AS (
  SELECT lang,
         len(regexp_extract_all(text, '{_DENY_PAT}')) AS n_hits,
         length(regexp_replace(text, '{_DENY_PAT}', '{_MASK}', 'g')) AS slen
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
       CAST(sum(n_hits) AS BIGINT) AS n_masked,
       CAST(sum(slen) AS BIGINT) AS scrub_chars
FROM s GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# domain_mix
# --------------------------------------------------------------------------

_MIX_SCALE = 65536  # cutoff granularity: first 4 md5 hex digits


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform domain-mix resampling: downsample every source to (about) the
    smallest source's size. keep-rate_s = n_min / n_s, realized as the
    integer cutoff (n_min * 65536) div n_s compared against the first 4 hex
    digits of the content md5 — integer arithmetic end-to-end, so the kept
    set is bit-identical across engines, re-ingestions and re-shardings
    (same content-addressed family as ``data_split`` / ``stratified_sample``).

    Scale shape: one partial-agg shuffle for per-source counts (tiny result:
    one row per source), a 1-row global min joined back broadcast-style by
    AQE, then a pure map-side keep filter. No RNG, no sampleBy, no collect.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    n_min = counts.agg(F.min("n_docs").alias("n_min"))
    cuts = counts.join(F.broadcast(n_min)).withColumn(
        "cut", F.expr(f"(n_min * {_MIX_SCALE}) div n_docs")
    )
    h4 = F.conv(
        F.substring(
            F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    # single reference to `cuts`: carrying `cut` through the grouping key
    # (constant per source) keeps its 1-row-broadcast subtree — and its
    # hint — from being duplicated in the plan
    return (
        d.select("source", h4.alias("h"))
        .join(cuts.select("source", "cut"), "source")
        .groupBy("source", "cut")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("h") < F.col("cut")).cast("long")).alias("n_kept"),
        )
        .select("source", "n_docs", "cut", "n_kept")
        .transform(order_result, "source")
    )


ORACLE_DOMAIN_MIX = rf"""
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), cuts AS (
  SELECT source, n_docs,
         (SELECT min(n_docs) FROM counts) * {_MIX_SCALE} // n_docs AS cut
  FROM counts
), h AS (
  SELECT source,
         CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 4) AS BIGINT) AS hv
  FROM documents
)
SELECT h.source, c.n_docs, c.cut,
       CAST(sum(CASE WHEN h.hv < c.cut THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM h JOIN cuts c ON h.source = c.source
GROUP BY h.source, c.n_docs, c.cut ORDER BY h.source
"""


# --------------------------------------------------------------------------
# bloom_prefilter
# --------------------------------------------------------------------------

_BLOOM_M = 8192  # bits
# multiplicative hash constants (xxhash/Knuth primes); h_i(key) =
# (((key % P) * (A_i % P)) % P) % M with P = 2^31 - 1 — pure BIGINT
# arithmetic, exact in any engine, overflow-free for EVERY int64 key:
# (P-1) * max(A_i % P) ~ 2.4e18 < 2^63-1, and by modular arithmetic the
# value is identical to ((key * A_i) % P) wherever the naive product
# fits. The naive form (late-r11 review) overflowed int64 past
# key ~ 2.82e9 — BELOW the 2^32 bound the old comment claimed — where
# ANSI-off Spark wraps silently (negative % stays negative, membership
# probes always miss => silent false negatives) while DuckDB raises:
# a cross-engine divergence waiting at production key scales.
_BLOOM_A = (2654435761, 2246822519, 3266489917)
_BLOOM_P = 2147483647


def _bloom_hashes(key):
    # final ((h % M) + M) % M normalizes NEGATIVE keys into [0, M): both
    # engines use truncated modulo, so a negative key otherwise yields a
    # negative bucket index (consistent cross-engine, but a nonsense bloom
    # position). For non-negative keys the extra step is the identity, so
    # existing outputs are unchanged (ADVICE r11).
    return [
        (
            ((((key % _BLOOM_P) * F.lit(a % _BLOOM_P)) % _BLOOM_P) % _BLOOM_M)
            + _BLOOM_M
        )
        % _BLOOM_M
        for a in _BLOOM_A
    ]


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning: build a k=3-hash / m=8192-bit bloom set
    over BUILDING-segment customer keys, pre-filter orders by membership,
    then compare against the exact semi-join. This is Spark's runtime-filter
    / bloom-pushdown pattern (`spark.sql.optimizer.runtime.bloomFilter`)
    re-expressed portably: `bloom_filter_agg`/`might_contain` are not in the
    public function registry, and their sketch bytes wouldn't oracle-match
    anyway — multiplicative integer hashes make the whole filter (false
    positives included) bit-identical in any engine.

    Scale shape: the bloom set is an aggregate of the DIM side — at most m
    distinct positions (a few KB) regardless of dim cardinality — so the
    cross-join ships one bounded row to every fact partition; the fact scan
    then drops non-members map-side before the exact join pays its shuffle.
    The `false_negs` column is structurally 0 (blooms never false-negative)
    and the oracle pins that.

    The broadcast ships the set as an m-slot 0/1 ARRAY (a real bloom
    bitmap), not the sorted position list: ``array_contains`` over the
    ~m/2-position list is a LINEAR scan per probe, so the map-side
    prefilter cost was 3·|pset| comparisons per fact row — ~2 billion at
    sf0.1, measured 2.65 s of single-task CPU ≈ 80% of the query (the
    per-task-work rung of guide §1.2; repartitioning the fact side would
    instead add the very exchange this pattern exists to avoid). The
    bitmap itself is assembled by a keyed join of the m slot ids against
    the bounded position set and one O(m) sorted fold — NOT by a
    ``transform(sequence(m), i -> array_contains(pset, i))`` pass, which
    is an INTERPRETED higher-order function (no codegen) doing m×|pset|
    element compares: measured 2.1 s in the broadcast build, i.e. the
    same quadratic it was supposed to remove, just moved. Each probe is
    three O(1) ``get`` lookups — membership identical position for
    position, so every output count is unchanged.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim_keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    pos = dim_keys.select(
        F.explode(F.array(*_bloom_hashes(F.col("k")))).alias("p")
    ).distinct()
    slots = spark.range(_BLOOM_M).select(F.col("id").alias("slot"))
    marks = slots.join(pos, F.col("slot") == F.col("p"), "left").select(
        "slot", F.col("p").isNotNull().cast("int").alias("bit")
    )
    # content-sorted fold to one row: collect_list order is partition-
    # dependent, so sort the (slot, bit) structs before extracting — the
    # engine's standard order-independent collect discipline
    bits = marks.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("slot", "bit"))),
            lambda x: x["bit"],
        ).alias("bits")
    )

    probe = orders.select(F.col("o_custkey").alias("k")).join(F.broadcast(bits))
    h = _bloom_hashes(F.col("k"))
    passed = (
        (F.get("bits", h[0].cast("int")) == 1)
        & (F.get("bits", h[1].cast("int")) == 1)
        & (F.get("bits", h[2].cast("int")) == 1)
    ).cast("long")
    flags = probe.select(
        passed.alias("pass"),
        F.col("k"),
    ).join(
        dim_keys.distinct().withColumn("is_true", F.lit(1)), "k", "left"
    )
    return flags.agg(
        F.count("*").alias("n_orders"),
        F.sum("pass").alias("n_pass"),
        F.coalesce(F.sum("is_true"), F.lit(0)).alias("n_exact"),
        F.coalesce(
            F.sum(((F.col("is_true") == 1) & (F.col("pass") == 0)).cast("long")),
            F.lit(0),
        ).alias("false_negs"),
    )


def _bloom_sql_hash(expr: str, a: int) -> str:
    # same reduce-first form as _bloom_hashes: overflow-free for every
    # int64 key on both engines, value-identical where the naive
    # product fit; the final +M normalization maps negative keys into
    # [0, M) and is the identity for non-negative keys (ADVICE r11)
    return (
        f"((((({expr} % {_BLOOM_P}) * {a % _BLOOM_P}) % {_BLOOM_P})"
        f" % {_BLOOM_M}) + {_BLOOM_M}) % {_BLOOM_M}"
    )


ORACLE_BLOOM_PREFILTER = f"""
WITH dimk AS (
  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
), pos AS (
  SELECT DISTINCT p FROM dimk,
    unnest(list_value({_bloom_sql_hash('k', _BLOOM_A[0])},
                      {_bloom_sql_hash('k', _BLOOM_A[1])},
                      {_bloom_sql_hash('k', _BLOOM_A[2])})) AS t(p)
), pset AS (
  SELECT list_sort(list(p)) AS ps FROM pos
), probe AS (
  SELECT o.o_custkey AS k,
         CASE WHEN list_contains(ps.ps, {_bloom_sql_hash('o.o_custkey', _BLOOM_A[0])})
               AND list_contains(ps.ps, {_bloom_sql_hash('o.o_custkey', _BLOOM_A[1])})
               AND list_contains(ps.ps, {_bloom_sql_hash('o.o_custkey', _BLOOM_A[2])})
              THEN 1 ELSE 0 END AS pass,
         CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END AS is_true
  FROM orders o CROSS JOIN pset ps
  LEFT JOIN (SELECT DISTINCT k FROM dimk) d ON o.o_custkey = d.k
)
SELECT count(*) AS n_orders,
       CAST(sum(pass) AS BIGINT) AS n_pass,
       CAST(sum(is_true) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN is_true = 1 AND pass = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS false_negs
FROM probe
"""


# --------------------------------------------------------------------------
# dedup_incremental
# --------------------------------------------------------------------------

_BATCH_MOD = 10  # doc_id % 10 == 7 -> "incoming batch"; rest -> corpus
_HEAD_WORDS = 8


def _head_fp(col):
    """md5 of the first 8 lowercased words — the 'head fingerprint' web-crawl
    ingest pipelines use to catch same-lede near-identical pages cheaply."""
    words = F.split(F.lower(F.trim(col)), r"\s+")
    return F.md5(F.array_join(F.slice(words, 1, _HEAD_WORDS), " "))


# DuckDB twin of ``_head_fp`` over a ``text`` column
_HEAD_FP_SQL = rf"""md5(array_to_string(
             (regexp_split_to_array(lower(trim(text)), '\s+'))[1:{_HEAD_WORDS}],
             ' '))"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: docs with doc_id % 10 == 7 arrive as the
    new batch; everything else is the existing corpus. A batch doc is
    ``dup_vs_corpus`` if its head fingerprint already exists in the corpus,
    else ``dup_in_batch`` if a lower-id batch doc shares its fingerprint,
    else ``kept`` — exactly the decision sequence an hourly crawl-ingest job
    runs against its corpus index.

    Scale shape: the corpus fingerprint set is corpus-proportional, so the
    membership join is a plain shuffle semi-style join on the fingerprint key
    (no broadcast hint — VERDICT r1 rule); at 100 TB that index would be a
    bucketed table on fp so the join co-locates shuffle-free. Within-batch
    keeper selection is one window over the same fp key."""
    d = load_table(spark, sf_dir, "documents")
    in_batch = F.col("doc_id") % _BATCH_MOD == 7
    batch = d.filter(in_batch).select("doc_id", _head_fp(F.col("text")).alias("fp"))
    corpus_fp = (
        d.filter(~in_batch)
        .select(_head_fp(F.col("text")).alias("fp"))
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    w = Window.partitionBy("fp")
    annotated = (
        batch.join(corpus_fp, "fp", "left")
        .withColumn("min_batch_doc", F.min("doc_id").over(w))
    )
    status = (
        F.when(F.col("in_corpus") == 1, F.lit("dup_vs_corpus"))
        .when(F.col("doc_id") > F.col("min_batch_doc"), F.lit("dup_in_batch"))
        .otherwise(F.lit("kept"))
    )
    return (
        annotated.select("doc_id", status.alias("status"))
        .transform(order_result, "doc_id")
    )


ORACLE_DEDUP_INCREMENTAL = f"""
WITH f AS (
  SELECT doc_id,
         {_HEAD_FP_SQL} AS fp,
         doc_id % {_BATCH_MOD} = 7 AS in_batch
  FROM documents
), corpus AS (
  SELECT DISTINCT fp FROM f WHERE NOT in_batch
), b AS (
  SELECT f.doc_id, f.fp,
         c.fp IS NOT NULL AS in_corpus,
         min(f.doc_id) OVER (PARTITION BY f.fp) AS min_batch_doc
  FROM f LEFT JOIN corpus c ON f.fp = c.fp
  WHERE f.in_batch
)
SELECT doc_id,
       CASE WHEN in_corpus THEN 'dup_vs_corpus'
            WHEN doc_id > min_batch_doc THEN 'dup_in_batch'
            ELSE 'kept' END AS status
FROM b ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# sample_reservoir
# --------------------------------------------------------------------------

_RES_K = 5  # docs kept per source


def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group reservoir sample: keep the 5 docs per
    source with the smallest content-hash priority — a uniform-without-
    replacement sample that is REPRODUCIBLE (same corpus -> same sample,
    independent of partitioning, ingest order, or cluster size), which is
    what makes sampled eval sets and ablation subsets auditable. The md5
    priority is the distributed analogue of assigning random() and keeping
    the k smallest — with the RNG replaced by a content hash so every
    engine agrees.

    Scale shape: partial-then-final top-k (the q_topk_per_group rework,
    VERDICT r1 #5): stage 1 ranks within (source, input-partition-id) so
    every core participates regardless of how few sources exist; stage 2
    re-ranks the <= k*n_partitions survivors. No global sort, no per-group
    serialization."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    # NULL text is pinned to '' on BOTH engines before hashing: Spark's
    # concat_ws silently SKIPS a NULL argument while SQL '||' propagates
    # NULL (which then sorts NULLS LAST), so one NULL-text document
    # would otherwise flip sample membership across engines (late-r11
    # review; the _n_words one-NULL-document hazard class)
    prio = F.md5(
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("")),
        )
    )
    base = d.select(
        "source", "doc_id", prio.alias("prio"), F.spark_partition_id().alias("pid")
    )
    order = [F.col("prio").asc(), F.col("doc_id").asc()]
    w_partial = W.partitionBy("source", "pid").orderBy(*order)
    survivors = (
        base.withColumn("prk", F.row_number().over(w_partial))
        .filter(F.col("prk") <= _RES_K)
        .drop("prk", "pid")
    )
    w_final = W.partitionBy("source").orderBy(*order)
    return (
        survivors.withColumn("rk", F.row_number().over(w_final))
        .filter(F.col("rk") <= _RES_K)
        .select("source", F.col("rk").cast("long").alias("rk"), "doc_id")
        .transform(order_result, "source", "rk")
    )


ORACLE_SAMPLE_RESERVOIR = f"""
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '|'
                        || COALESCE(text, '')) ASC,
                    doc_id ASC) AS rk
  FROM documents
)
SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
FROM ranked WHERE rk <= {_RES_K} ORDER BY source, rk
"""


QUERIES = {
    "sample_reservoir": q_sample_reservoir,
    "decontaminate": q_decontaminate,
    "scrub_denylist": q_scrub_denylist,
    "domain_mix": q_domain_mix,
    "bloom_prefilter": q_bloom_prefilter,
    "dedup_incremental": q_dedup_incremental,
}

ORACLE = {
    "sample_reservoir": ORACLE_SAMPLE_RESERVOIR,
    "decontaminate": ORACLE_DECONTAMINATE,
    "scrub_denylist": ORACLE_SCRUB_DENYLIST,
    "domain_mix": ORACLE_DOMAIN_MIX,
    "bloom_prefilter": ORACLE_BLOOM_PREFILTER,
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
}


# --------------------------------------------------------------------------
# scrub_pii — regex PII redaction (emails, phone-shaped, long numbers)
# --------------------------------------------------------------------------

_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_RE_PHONE = r"[0-9]{3}-[0-9]{4}"
_RE_LONGNUM = r"[0-9]{5,}"


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: replace emails, phone-shaped tokens, and long
    digit runs with typed placeholders, reporting per-doc match counts and
    an md5 of the scrubbed text (the strong equivalence check — one flipped
    byte anywhere diverges the hash).

    The synthetic corpus contains no PII, so the query first PLANTS
    deterministic synthetic PII derived from doc_id (same expression in the
    oracle) — the redaction regexes then have real matches to find.
    Replacement order matters and is pinned: emails first (their local part
    contains digits a later pass would half-eat), then phones, then bare
    long numbers.

    Scale: map-side scan→project — no UDF; regexes are RE2/Java-common
    syntax (character classes + bounded repeats only) so both engines see
    identical match sets. Regex redaction is the most compute-dense
    projection in the suite, so the scan is WIDENED when the file index
    under-splits (io.widen_scan: sf1's 2-split corpus ran it on 2 of 32
    cores — 10.8 s vs 1.6 s widened; no-op on many-file corpora)."""
    d = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example tel 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ref "),
        (F.col("doc_id") * 7919 + 100000).cast("string"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, _RE_EMAIL, "<EMAIL>"),
            _RE_PHONE,
            "<PHONE>",
        ),
        _RE_LONGNUM,
        "<NUM>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(planted, F.lit(_RE_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count(planted, F.lit(_RE_PHONE)).cast("long").alias("n_phone"),
        F.length(red).cast("long").alias("red_len"),
        F.md5(F.encode(red, "UTF-8")).alias("red_md5"),
    ).transform(order_result, "doc_id")


ORACLE_SCRUB_PII = rf"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example tel 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' ref ' || CAST(doc_id * 7919 + 100000 AS VARCHAR) AS t
  FROM documents
), red AS (
  SELECT doc_id, t,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '{_RE_EMAIL}', '<EMAIL>', 'g'),
             '{_RE_PHONE}', '<PHONE>', 'g'),
           '{_RE_LONGNUM}', '<NUM>', 'g') AS r
  FROM planted
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_RE_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_RE_PHONE}')) AS BIGINT) AS n_phone,
       CAST(length(r) AS BIGINT) AS red_len,
       md5(r) AS red_md5
FROM red ORDER BY doc_id
"""

QUERIES["scrub_pii"] = q_scrub_pii
ORACLE["scrub_pii"] = ORACLE_SCRUB_PII


# --------------------------------------------------------------------------
# sample_weighted — deterministic weighted sampling (A-Res)
# --------------------------------------------------------------------------

_WS_K = 20


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis A-Res:
    each doc draws u ∈ (0,1) and keeps key u^(1/w) (w = n_chars, longer
    docs proportionally likelier); the global top-20 keys are the sample.
    The draw is DERANDOMIZED — u comes from the first 8 md5 hex digits of
    (doc_id|source), so the sample is reproducible on any engine and any
    partitioning, the same auditability property as sample_reservoir but
    weight-aware.

    Scale: keys are a pure map-side expression; top-20 is orderBy+limit →
    TakeOrderedAndProject (per-partition heap, no global sort).  Key gaps
    (≥1e-6 at any plausible corpus density) dwarf libm pow's 1-ulp
    cross-engine wiggle, so selection is stable; outputs round at 6."""
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(
                F.encode(
                    F.concat_ws(
                        "|", F.col("doc_id").cast("string"), F.col("source")
                    ),
                    "UTF-8",
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    u = (h + 0.5) / F.lit(4294967296.0)
    key = F.pow(u, 1.0 / F.col("n_chars").cast("double"))
    return (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round(key, 6).alias("draw_key"),
            key.alias("_k"),
        )
        .orderBy(F.col("_k").desc(), F.col("doc_id").asc())
        .limit(_WS_K)
        .drop("_k")
    )


# the 8-hex-char draw is parsed POSITIONALLY (Horner over instr), not via
# CAST('0x'||hex AS BIGINT): that cast's hex-string->int semantics vary
# across DuckDB builds at widths past 32 bits of value — the exact
# construct that made sketch_countmin_topk driver-red in round 5
ORACLE_SAMPLE_WEIGHTED = f"""
WITH hashed AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         substr(md5(CAST(doc_id AS VARCHAR) || '|' || source), 1, 8) AS hx
  FROM documents
), keyed AS (
  SELECT doc_id, source, n_chars,
         pow((((((((((0::BIGINT * 16 + instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16 + instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16 + instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 + instr('0123456789abcdef', substr(hx, 4, 1)) - 1) * 16 + instr('0123456789abcdef', substr(hx, 5, 1)) - 1) * 16 + instr('0123456789abcdef', substr(hx, 6, 1)) - 1) * 16 + instr('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16 + instr('0123456789abcdef', substr(hx, 8, 1)) - 1) + 0.5) / 4294967296.0,
             1.0 / CAST(n_chars AS DOUBLE)) AS k
  FROM hashed
)
SELECT doc_id, source, n_chars, round(k, 6) AS draw_key
FROM keyed
ORDER BY k DESC, doc_id ASC
LIMIT {_WS_K}
"""

QUERIES["sample_weighted"] = q_sample_weighted
ORACLE["sample_weighted"] = ORACLE_SAMPLE_WEIGHTED


# --------------------------------------------------------------------------
# quality_percentile_band — global-percentile quality gate
# --------------------------------------------------------------------------


def q_quality_percentile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-band quality filtering — the corpus-relative length gate
    (Gopher/RefinedWeb-style "drop the tails"): keep documents whose length
    lies inside the global [P10, P90] band, reporting per-source survival
    and the band edges themselves.

    Spark-first: the thresholds come from the EXACT ``percentile``
    aggregate (one 1-row result), broadcast back over the fact scan as a
    cross join — the same bounded stats-broadcast shape as
    ``histogram_bins``. The band compare uses the ROUNDED edges on both
    engines so the boundary decision is bit-identical.

    100 TB: exact global percentiles need a full sort-free quantile
    aggregate (Spark's ``percentile`` buffers per-partition and merges —
    memory-bounded by value cardinality, fine for length-like columns; for
    unbounded-cardinality metrics the scale path swaps in
    ``percentile_approx``, same plan shape). Everything after the 1-row
    broadcast is one map-side flag + one groupBy(source) shuffle."""
    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    stats = d.agg(
        F.expr("percentile(n_chars, array(0.1, 0.9))").alias("p")
    ).select(
        F.round(F.element_at("p", 1), 6).alias("p10"),
        F.round(F.element_at("p", 2), 6).alias("p90"),
    )
    kept = (F.col("n_chars") >= F.col("p10")) & (
        F.col("n_chars") <= F.col("p90")
    )
    return (
        d.crossJoin(F.broadcast(stats))
        .select("source", "n_chars", "p10", "p90", kept.cast("long").alias("k"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("k").alias("n_kept"),
            F.round(
                F.avg(F.when(F.col("k") == 1, F.col("n_chars"))), 4
            ).alias("avg_kept_chars"),
            F.first("p10").alias("p10"),
            F.first("p90").alias("p90"),
        )
        .transform(order_result, "source")
    )


ORACLE_QUALITY_PERCENTILE_BAND = """
WITH s AS (
  SELECT round(quantile_cont(n_chars, 0.1), 6) AS p10,
         round(quantile_cont(n_chars, 0.9), 6) AS p90
  FROM documents
), flagged AS (
  SELECT source, n_chars, p10, p90,
         CASE WHEN n_chars >= p10 AND n_chars <= p90 THEN 1 ELSE 0 END AS k
  FROM documents, s
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(k) AS BIGINT) AS n_kept,
       round(avg(CASE WHEN k = 1 THEN n_chars END), 4) AS avg_kept_chars,
       min(p10) AS p10, min(p90) AS p90
FROM flagged GROUP BY source ORDER BY source
"""

QUERIES["quality_percentile_band"] = q_quality_percentile_band
ORACLE["quality_percentile_band"] = ORACLE_QUALITY_PERCENTILE_BAND


# --------------------------------------------------------------------------
# sample_temperature — temperature-scaled domain mixing (exact quotas)
# --------------------------------------------------------------------------


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling — the multilingual/multi-domain
    mixing rule used for LLM pretraining corpora (sample domain d with
    probability ∝ p_d^α; α=0.5 here via sqrt): small domains are
    up-weighted relative to their natural share, unlike ``domain_mix``'s
    uniform downsample-to-min. Quotas are EXACT (floor(T·√n_d / Σ√n),
    T = half the corpus), filled deterministically by content-hash order —
    no RNG, stable under re-ingestion like the whole sampling family.

    Scale shape: exact per-domain quotas need a per-domain rank, and a
    plain window over 5 domains would serialize the corpus into 5
    partitions — the low-cardinality skew cliff. Instead this reuses the
    ``rank_global_twophase`` discipline per domain: rank within
    (domain, first-hash-byte bucket) — 256 even buckets per domain, no
    skew — plus broadcast per-bucket prefix offsets (a ≤ domains×256-row
    aggregate) reconstructs the exact global rank within each domain.
    One partial-agg shuffle for counts, one window shuffle on the
    well-distributed (source, bucket) key, tiny broadcasts everywhere
    else."""
    d = widen_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    )
    # NULL text pins to '' BEFORE normalization on BOTH engines — a NULL
    # h/bucket would hit the engines' opposite window NULL-ordering
    # defaults (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST) and one
    # NULL-text document would shift every quota fill (late-r11 review)
    h = F.md5(
        F.regexp_replace(
            F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
            r"\s+",
            " ",
        )
    )
    base = d.select(
        "doc_id",
        "source",
        h.alias("h"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bucket"),
    )
    counts = base.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(
        F.sum(F.sqrt("n_docs")).alias("z"), F.sum("n_docs").alias("n")
    )
    quota = counts.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.floor(
            F.col("n") / 2.0 * F.sqrt("n_docs") / F.col("z")
        ).cast("long").alias("quota"),
    )
    bcounts = base.groupBy("source", "bucket").agg(F.count("*").alias("bn"))
    woff = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bcounts.select(
        "source",
        "bucket",
        F.coalesce(F.sum("bn").over(woff), F.lit(0)).alias("off"),
    )
    wrk = Window.partitionBy("source", "bucket").orderBy("h", "doc_id")
    ranked = (
        base.join(F.broadcast(offs), ["source", "bucket"])
        .withColumn("grk", F.col("off") + F.row_number().over(wrk))
    )
    sel = ranked.join(F.broadcast(quota), "source").withColumn(
        "selected", (F.col("grk") <= F.col("quota")).cast("long")
    )
    return (
        sel.groupBy("source")
        .agg(
            F.min("n_docs").cast("long").alias("n_docs"),
            F.min("quota").alias("quota"),
            F.sum("selected").cast("long").alias("n_selected"),
            F.sum(
                F.when(F.col("selected") == 1, F.col("doc_id"))
            ).cast("long").alias("sel_checksum"),
        )
        .transform(order_result, "source")
    )


ORACLE_SAMPLE_TEMPERATURE = r"""
WITH base AS (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(COALESCE(text, ''))),
                            '\s+', ' ', 'g')) AS h
  FROM documents
), counts AS (
  SELECT source, count(*) AS n_docs FROM base GROUP BY source
), tot AS (
  SELECT sum(sqrt(n_docs)) AS z, sum(n_docs) AS n FROM counts
), quota AS (
  SELECT source, n_docs,
         CAST(floor(n / 2.0 * sqrt(n_docs) / z) AS BIGINT) AS quota
  FROM counts CROSS JOIN tot
), ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS grk
  FROM base
), sel AS (
  SELECT r.source, q.n_docs, q.quota, r.doc_id,
         CASE WHEN r.grk <= q.quota THEN 1 ELSE 0 END AS selected
  FROM ranked r JOIN quota q USING (source)
)
SELECT source,
       CAST(min(n_docs) AS BIGINT) AS n_docs,
       min(quota) AS quota,
       CAST(sum(selected) AS BIGINT) AS n_selected,
       CAST(sum(CASE WHEN selected = 1 THEN doc_id END) AS BIGINT)
         AS sel_checksum
FROM sel GROUP BY source ORDER BY source
"""

QUERIES["sample_temperature"] = q_sample_temperature
ORACLE["sample_temperature"] = ORACLE_SAMPLE_TEMPERATURE


# --------------------------------------------------------------------------
# dedup_url_canonical — URL canonicalization dedup (round 7)
# --------------------------------------------------------------------------


def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the FIRST pass of every web-corpus
    pipeline (CCNet / RefinedWeb run it before any content dedup, because
    it is free): crawl URLs that differ only in case, default port,
    ``www.`` prefix, tracking parameters, fragments, or trailing slashes
    are the SAME resource, and collapsing them costs one string pipeline
    plus one hash aggregation — no shingles, no pairs.

    Each document synthesizes a deterministic raw URL whose doc_id-driven
    variants (upper/lower case, ``:443``, ``utm_*`` query, ``#fragment``,
    trailing slash) all canonicalize to the same resource for the same
    ``(source, article)`` — so the group sizes prove every
    canonicalization rule fired — while a genuine ``?page=2`` variant
    stays a DISTINCT resource (the pipeline must not over-strip). The whole pipeline is codegen'd built-in
    string functions (lower / regexp_replace / split), zero UDFs; the
    oracle runs the same rules in DuckDB.

    Scale shape: one map-side string pipeline + ONE hash aggregation on
    the canonical key — at 100 TB this is a single shuffle keyed by
    canonical URL, the same shape as ``dedup_exact`` (sketches/pairs are
    never needed for URL identity)."""
    d = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "source")
    )
    raw = d.withColumn(
        "raw_url",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.upper("source"),
            F.lit(".Example.COM:443/articles/"),
            F.expr("(doc_id div 20) % 7").cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("/?utm_source=feed&utm_campaign=x"),
            )
            .when(F.col("doc_id") % 11 == 0, F.lit("/?page=2"))
            .otherwise(F.lit("/")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit("#section-"), (F.col("doc_id") % 7).cast("string")),
            ).otherwise(F.lit("")),
        ),
    )
    canon = (
        raw
        # 1. case-fold (scheme+host are case-insensitive; path normalized
        #    too since the synthetic paths are ASCII)
        .withColumn("u", F.lower("raw_url"))
        # 2. strip the fragment
        .withColumn("u", F.regexp_replace("u", r"#.*$", ""))
        # 3. strip the default https port
        .withColumn("u", F.regexp_replace("u", r"^(https://[^/:]+):443(/|$)", r"$1$2"))
        # 4. drop utm_* tracking params (then a dangling '&' or '?')
        .withColumn("u", F.regexp_replace("u", r"utm_[a-z]+=[^&#]*&?", ""))
        .withColumn("u", F.regexp_replace("u", r"[?&]$", ""))
        # 5. strip the www. host prefix
        .withColumn("u", F.regexp_replace("u", r"^https://www\.", "https://"))
        # 6. strip a trailing slash (but never a '//' or ':/' root) — the
        #    capture-group form, NOT a lookbehind: DuckDB's RE2 has no
        #    lookbehind, and the oracle must run the IDENTICAL pattern
        .withColumn("u", F.regexp_replace("u", r"([^:/])/$", r"$1"))
    )
    return (
        canon.groupBy(F.col("u").alias("canonical_url"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("raw_url").cast("long").alias("n_raw_forms"),
            F.min("doc_id").alias("keep_doc"),
        )
        .orderBy(F.col("n_docs").desc(), F.col("canonical_url").asc())
        .limit(50)
    )


ORACLE_DEDUP_URL_CANONICAL = r"""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.' || upper(source) || '.Example.COM:443/articles/'
           || CAST((doc_id // 20) % 7 AS VARCHAR)
           || CASE WHEN doc_id % 3 = 0
                   THEN '/?utm_source=feed&utm_campaign=x'
                   WHEN doc_id % 11 = 0 THEN '/?page=2'
                   ELSE '/' END
           || CASE WHEN doc_id % 5 = 0
                   THEN '#section-' || CAST(doc_id % 7 AS VARCHAR)
                   ELSE '' END AS raw_url
  FROM documents
), canon AS (
  SELECT doc_id, raw_url,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(lower(raw_url), '#.*$', ''),
              '^(https://[^/:]+):443(/|$)', '\1\2'),
            'utm_[a-z]+=[^&#]*&?', '', 'g'),
          '[?&]$', ''),
        '^https://www\.', 'https://'),
      '([^:/])/$', '\1') AS u
  FROM raw
)
SELECT u AS canonical_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_forms,
       min(doc_id) AS keep_doc
FROM canon
GROUP BY u
ORDER BY n_docs DESC, canonical_url ASC
LIMIT 50
"""

QUERIES["dedup_url_canonical"] = q_dedup_url_canonical
ORACLE["dedup_url_canonical"] = ORACLE_DEDUP_URL_CANONICAL


# --------------------------------------------------------------------------
# dsir_importance — hashed-n-gram importance resampling (round 8)
# --------------------------------------------------------------------------

_DSIR_B = 256  # hashed feature buckets (DSIR uses 10k; 256 keeps the oracle
#                relation small while exercising the identical plan shape)


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, DSIR) —
    the published recipe for picking pretraining documents that LOOK like
    a target domain: featurize every document into a FIXED hashed-n-gram
    bucket space, fit target and raw unigram-over-buckets distributions,
    and weight each raw document by its log-likelihood ratio
    ``sum_b f_b · log(p_target[b] / p_raw[b])``.  Here the features are
    word bigrams hashed into 256 buckets (md5 positional-hex, the CMS
    scheme from sketches.py), the target sample is the ``lang = 'en'``
    slice, the raw pool is the whole corpus, and both distributions are
    add-one smoothed.  Output: the top-25 documents by importance weight
    — the head of the resampling distribution.

    Determinism by construction: the per-bucket log-ratio is quantized to
    an integer (``floor(ln(ratio) · 1e6)``) BEFORE any per-document
    reduction, so document weights are exact BIGINT sums — the float
    summation-order hazard of a distributed weighted reduce (the
    ``embedding_gram_matrix`` band risk) never arises.  The only float in
    the pipeline is 2·256 scalar ``ln`` calls whose inputs are identical
    exact-integer-valued doubles on both engines; a ULP flip across the
    floor boundary needs the product to land within ~1e-9 of an integer.

    100 TB: the feature space is FIXED at 256 buckets, so the statistics
    pass is a combiner-friendly 256-key aggregation whose output —
    however large the corpus — is a 256-row broadcast; the scoring pass
    attaches weights map-side and reduces by doc_id (one keyed shuffle);
    top-25 is Spark's two-phase TakeOrdered.  Two corpus scans total,
    the same discipline as ``text_lm_score``'s model/score passes.  The
    scan is widened (io.widen_scan): both passes re-tokenize + md5 the
    corpus — compute-dense map work a few-split compressed file must not
    pin to 1-2 cores (measured at sf1: 24.4 → ~6 s; no-op on many-file
    corpora).  Widened at density 16: md5-per-bigram is ~6 s of CPU per
    input MB (measured: 3.6 s single-task CPU on the 0.58 MB sf0.1 file
    the density-1 byte floor skips) vs the ~0.2-0.4 s/MB regex tier the
    floor was tuned for — the declared amplification makes the gate see
    the real per-byte work, and on many-split corpora it changes
    nothing.  Reference parity: extends the reference's filter/derive
    curation surface (data_process/clean_data.py) to the published
    distribution-matching selector; no reference counterpart."""
    d = (
        widen_scan(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "lang", "text"
            ),
            density=16,
        )
        .filter(F.trim("text") != "")
        .withColumn("toks", F.split(F.lower(F.trim("text")), r"\s+"))
    )
    bg = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " (x, i) -> concat(x, ' ', toks[i + 1]))"
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "lang",
        F.md5(F.col("bg")).alias("h"),
    ).select(
        "doc_id",
        "lang",
        F.expr(
            "(instr('0123456789abcdef', substr(h, 31, 1)) - 1) * 16"
            " + instr('0123456789abcdef', substr(h, 32, 1)) - 1"
        ).cast("long").alias("b"),
    )
    stats = bg.groupBy("b").agg(
        F.count(F.lit(1)).alias("cs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    )
    tot = stats.agg(
        F.sum("cs").alias("s_tot"), F.sum("ct").alias("t_tot")
    )
    qlog = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            F.log(
                (
                    (F.col("ct") + 1).cast("double")
                    * (F.col("s_tot") + _DSIR_B).cast("double")
                )
                / (
                    (F.col("cs") + 1).cast("double")
                    * (F.col("t_tot") + _DSIR_B).cast("double")
                )
            )
            * 1000000
        ).cast("long").alias("q"),
    )
    scored = (
        bg.join(F.broadcast(qlog), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("q").alias("qweight"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "lang",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.col("qweight").cast("long").alias("qweight"),
            F.round(
                F.col("qweight").cast("double")
                / 1000000
                / F.col("n_bigrams").cast("double"),
                4,
            ).alias("avg_logratio"),
        )
        .orderBy(F.col("qweight").desc(), F.col("doc_id").asc())
        .limit(25)
    )


ORACLE_DSIR_IMPORTANCE = rf"""
WITH d AS (
  SELECT doc_id, lang,
         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE trim(text) <> ''
), bgr AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM d
), probes AS (
  SELECT doc_id, lang,
         (instr('0123456789abcdef', substr(md5(bg), 31, 1)) - 1) * 16
           + instr('0123456789abcdef', substr(md5(bg), 32, 1)) - 1 AS b
  FROM bgr
), stats AS (
  SELECT b, count(*) AS cs,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
  FROM probes GROUP BY 1
), tot AS (
  SELECT CAST(sum(cs) AS BIGINT) AS s_tot, CAST(sum(ct) AS BIGINT) AS t_tot
  FROM stats
), qlog AS (
  SELECT b,
         CAST(floor(ln(
             (CAST(ct + 1 AS DOUBLE) * CAST(s_tot + {_DSIR_B} AS DOUBLE))
             / (CAST(cs + 1 AS DOUBLE) * CAST(t_tot + {_DSIR_B} AS DOUBLE))
           ) * 1000000) AS BIGINT) AS q
  FROM stats CROSS JOIN tot
), scored AS (
  SELECT p.doc_id, p.lang,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(q.q) AS BIGINT) AS qweight
  FROM probes p JOIN qlog q USING (b)
  GROUP BY 1, 2
)
SELECT doc_id, lang, n_bigrams, qweight,
       round(CAST(qweight AS DOUBLE) / 1000000
             / CAST(n_bigrams AS DOUBLE), 4) AS avg_logratio
FROM scored
ORDER BY qweight DESC, doc_id ASC
LIMIT 25
"""

QUERIES["dsir_importance"] = q_dsir_importance
ORACLE["dsir_importance"] = ORACLE_DSIR_IMPORTANCE


# --------------------------------------------------------------------------
# quality classifier — the CCNet/DSIR/classifier triad's third leg (round 14)
# --------------------------------------------------------------------------
#
# The curation tier already gates by LM perplexity proxy (text_lm_score) and
# by distribution matching (dsir_importance); the standard third leg of a
# 100 TB curation pipeline is a TRAINED quality classifier (fastText-style
# linear model over hashed n-gram features — GPT-3/LLaMA-era "quality
# filtering").  Implemented Spark-first with the repo's determinism
# discipline:
#
# - features: unigram tokens hashed into _QC_D = 256 buckets (md5
#   positional-hex, the DSIR/CMS scheme) with raw counts, plus an explicit
#   bias feature (feature_id -1, count 1);
# - teacher: weak supervision by the engine's own composite quality score
#   (functions.text.quality_score >= _QC_THR) — the bootstrap every real
#   quality classifier starts from (a cheap heuristic labels, the model
#   distills and generalizes it);
# - training: multinomial-NB log-odds CLOSED FORM (one corpus pass,
#   add-one smoothing, weights quantized floor(ln·1e6) — exactly DSIR's
#   integer-quantization discipline) initializes the weights, then
#   _QC_ITERS = 3 full-batch LOGISTIC-GRADIENT supersteps refine them:
#   margins are exact BIGINT dot products, the sigmoid is micro-quantized
#   (floor(p·1e6), saturation-clamped at |m| >= 40), errors/gradients are
#   exact BIGINT sums (order-independent — the float-summation hazard of a
#   distributed gradient reduce never arises), and the update is exact
#   integer floor division with lr = _QC_LRN/_QC_LRD.  The only
#   cross-engine float surface is one ln per bucket and one exp per
#   (doc, superstep), both absorbed by the floor-quantization (the DSIR
#   ulp-boundary argument; verified by hash parity at 3 scales).
#
# Measured (train accuracy at sf0.001/0.01/0.1, base rate 0.56/0.53/0.57):
# NB closed form 0.854/0.912/0.926; +3 GD supersteps 0.878/0.910/0.933 —
# the refinement is accuracy-positive at two scales and -0.002 (one doc)
# at the third, so the SHIPPED model is nb_gd3 and
# quality_classifier_gd_eval keeps both variants priced (the residual-eval
# adjudication pattern).
#
# 100 TB posture: the statistics pass and each gradient superstep are
# combiner-friendly 257-key aggregations over a corpus-linear hashed token
# stream (the DSIR shape); the trained model is a 257-row artifact promoted
# once per process (io.trained_artifact) and broadcast to the scoring pass
# — scoring is map-side + one doc_id-keyed reduce.  Overflow bound: exact
# BIGINT gradients hold to ~1e11 docs × 50-token counts; past that, shift
# the error quantum from 1e6 to 1e3 (documented, not load-bearing here).

_QC_D = 256          # hashed feature buckets
_QC_THR = 0.405      # teacher gate on the composite quality score
_QC_ITERS = 3        # logistic batch-gradient supersteps
_QC_LRN, _QC_LRD = 1, 64   # learning rate 1/64 (measured sweep winner)
_QC_CLAMP_MICRO = 40_000_000  # sigmoid saturation clamp on micro-margins


def _qc_x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, b, c): hashed-unigram counts + the bias row per doc +
    the teacher label. One corpus tokenize pass (widened — compute-dense
    md5 map work)."""
    d = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).filter(F.trim("text") != "")
    lab = d.select(
        "doc_id",
        F.when(X.quality_score(F.col("text")) >= _QC_THR, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("y"),
        F.split(F.lower(F.trim("text")), r"\s+").alias("toks"),
    )
    counts = (
        lab.select("doc_id", "y", F.explode("toks").alias("t"))
        .select("doc_id", "y", F.md5("t").alias("h"))
        .select(
            "doc_id",
            "y",
            F.expr(
                "CAST((instr('0123456789abcdef', substr(h, 31, 1)) - 1) * 16"
                " + instr('0123456789abcdef', substr(h, 32, 1)) - 1 AS BIGINT)"
            ).alias("b"),
        )
        .groupBy("doc_id", "y", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bias = lab.select(
        "doc_id",
        "y",
        F.lit(-1).cast("long").alias("b"),
        F.lit(1).cast("long").alias("c"),
    )
    return counts.unionByName(bias)


def _qc_nb_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multinomial-NB log-odds over the full bucket domain
    (feature_id, weight_micro; feature_id -1 = the class-prior bias) —
    add-one smoothed, floor(ln·1e6) quantized."""
    x = _qc_x(spark, sf_dir)
    fx = x.filter(F.col("b") >= 0)
    stats = fx.groupBy("b").agg(
        F.sum(F.when(F.col("y") == 1, F.col("c")).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("y") == 0, F.col("c")).otherwise(0)).alias("cn"),
    )
    tots = stats.agg(F.sum("cp").alias("tp"), F.sum("cn").alias("tn"))
    nd = x.filter(F.col("b") == -1).agg(
        F.sum("y").alias("npos"), F.sum(F.lit(1) - F.col("y")).alias("nneg")
    )
    full = (
        spark.range(_QC_D)
        .select(F.col("id").alias("b"))
        .join(stats, "b", "left")
        .select(
            "b",
            F.coalesce("cp", F.lit(0)).alias("cp"),
            F.coalesce("cn", F.lit(0)).alias("cn"),
        )
    )
    w = full.crossJoin(F.broadcast(tots)).select(
        F.col("b").cast("long").alias("feature_id"),
        F.floor(
            F.log(
                (
                    (F.col("cp") + 1).cast("double")
                    * (F.col("tn") + _QC_D).cast("double")
                )
                / (
                    (F.col("cn") + 1).cast("double")
                    * (F.col("tp") + _QC_D).cast("double")
                )
            )
            * 1000000
        )
        .cast("long")
        .alias("weight_micro"),
    )
    bias = nd.select(
        F.lit(-1).cast("long").alias("feature_id"),
        F.floor(
            F.log(F.col("npos").cast("double") / F.col("nneg").cast("double"))
            * 1000000
        )
        .cast("long")
        .alias("weight_micro"),
    )
    return w.unionByName(bias)


def _qc_nb_weights_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trained_artifact(
        spark, sf_dir, "qc_nb_weights", lambda: _qc_nb_weights(spark, sf_dir)
    )


def _qc_margins(x: DataFrame, w: DataFrame) -> DataFrame:
    """(doc_id, y, mm): exact BIGINT micro-margin per doc — broadcast
    weights join + one doc_id-keyed partial-agg reduce."""
    return (
        x.join(F.broadcast(w), x["b"] == w["feature_id"])
        .groupBy("doc_id", "y")
        .agg(F.sum(F.col("c") * F.col("weight_micro")).alias("mm"))
    )


def _qc_gd_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB init + ``_QC_ITERS`` full-batch logistic-gradient supersteps,
    all in exact integer micro-units (see the tier note above)."""
    x = track_cache(_qc_x(spark, sf_dir))
    # one corpus materialization: every superstep's margin AND gradient
    # pass re-reads x, and the superstep weight broadcasts race to build
    # concurrently — the kmeans/codebook lesson applied here
    x.count()
    nd = F.broadcast(
        x.filter(F.col("b") == -1).agg(F.count(F.lit(1)).alias("n"))
    )
    w = _qc_nb_weights_t(spark, sf_dir)
    for _ in range(_QC_ITERS):
        marg = _qc_margins(x, w)
        p = (
            F.when(F.col("mm") >= _QC_CLAMP_MICRO, F.lit(1000000))
            .when(F.col("mm") <= -_QC_CLAMP_MICRO, F.lit(0))
            .otherwise(
                F.floor(
                    F.lit(1000000.0)
                    / (F.lit(1.0) + F.exp(-(F.col("mm") / F.lit(1000000.0))))
                )
            )
            .cast("long")
        )
        err = marg.select(
            "doc_id", (p - F.lit(1000000) * F.col("y")).alias("e")
        )
        g = (
            x.join(err, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("e") * F.col("c")).alias("g"))
        )
        a = F.lit(_QC_LRN) * F.coalesce(F.col("g"), F.lit(0))
        dd = F.lit(_QC_LRD) * F.col("n")
        w = (
            w.join(g, w["feature_id"] == g["b"], "left")
            .crossJoin(nd)
            .select(
                "feature_id",
                (
                    F.col("weight_micro")
                    - ((a - F.pmod(a, dd)) / dd).cast("long")
                ).alias("weight_micro"),
            )
        )
    return w


def _qc_weights_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHIPPED model (nb_gd3 — measured winner), promoted."""
    return trained_artifact(
        spark, sf_dir, "qc_gd_weights", lambda: _qc_gd_weights(spark, sf_dir)
    )


def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained quality-classifier model itself: 257 integer-quantized
    weights (hashed-unigram log-odds refined by 3 logistic supersteps).
    See the tier note above for training recipe, measured accuracies and
    the 100 TB posture; ``quality_classifier_gd_eval`` prices the
    NB-vs-GD adjudication, ``quality_classifier_apply`` serves it."""
    return _qc_weights_t(spark, sf_dir).transform(order_result, "feature_id")


def q_quality_classifier_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the shipped classifier: exact BIGINT
    micro-margin, the keep decision (margin >= 0), and the teacher label
    (kept in the output so precision against the teacher is readable
    straight off the table). One broadcast join + one keyed reduce —
    the 100 TB scoring shape."""
    m = _qc_margins(_qc_x(spark, sf_dir), _qc_weights_t(spark, sf_dir))
    return (
        m.select(
            "doc_id",
            F.col("mm").alias("margin_micro"),
            F.when(F.col("mm") >= 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
            F.col("y").cast("long").alias("teacher_label"),
        )
        .transform(order_result, "doc_id")
    )


def q_quality_classifier_gd_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The training-recipe adjudication, kept priced (the residual-eval
    pattern): train accuracy + kept fraction of the NB closed form vs
    the shipped nb_gd3 refinement, on identical features and teacher.
    Measured: 0.854/0.912/0.926 (nb) vs 0.878/0.910/0.933 (nb_gd3) at
    sf0.001/0.01/0.1 — the refinement is positive at two scales and one
    doc negative at the third; if a future corpus flips the sign, the
    shipped model is one re-run from NB."""
    x = track_cache(_qc_x(spark, sf_dir))
    out = []
    for variant, w in (
        ("nb", _qc_nb_weights_t(spark, sf_dir)),
        ("nb_gd3", _qc_weights_t(spark, sf_dir)),
    ):
        m = _qc_margins(x, w)
        agg = m.agg(
            F.round(
                F.sum(
                    F.when(
                        (F.col("mm") >= 0) == (F.col("y") == 1), 1
                    ).otherwise(0)
                )
                / F.count(F.lit(1)),
                6,
            ).alias("train_accuracy"),
            F.round(
                F.sum(F.when(F.col("mm") >= 0, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("kept_frac"),
        )
        out.append(
            spark.range(1)
            .select(F.lit(variant).alias("variant"))
            .crossJoin(F.broadcast(agg))
        )
    return out[0].unionByName(out[1]).transform(order_result, "variant")


def _qc_sql_chain() -> str:
    """CTE chain replaying the classifier training exactly: features +
    teacher (``qc_x``), NB closed form (``qc_w0``), then one
    margin/error/gradient/update block per superstep, ending at
    ``qc_w{_QC_ITERS}``."""
    en = ", ".join(f"'{w}'" for w in X.EN_STOPWORDS)
    parts = [
        rf"""qc_t AS (
  SELECT doc_id, text,
         len(regexp_split_to_array(trim(text), '\s+')) AS n,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> x IN ({en}))) AS sw,
         length(regexp_replace(text, '\s+', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(text) AS total,
         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
  FROM documents WHERE trim(text) <> ''),
qc_lab AS (
  SELECT doc_id,
         CASE WHEN round(0.4 * (sw::DOUBLE / n)
                   + 0.3 * least(nonspace::DOUBLE / n / 10.0, 1.0)
                   + 0.3 * (alpha::DOUBLE / total), 4) >= {_QC_THR}
              THEN 1 ELSE 0 END AS y
  FROM qc_t),
qc_tok AS (
  SELECT t.doc_id, l.y, unnest(t.ws) AS tk
  FROM qc_t t JOIN qc_lab l USING (doc_id)),
qc_x AS (
  SELECT doc_id, y,
         CAST((instr('0123456789abcdef', substr(md5(tk), 31, 1)) - 1) * 16
           + instr('0123456789abcdef', substr(md5(tk), 32, 1)) - 1
           AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM qc_tok GROUP BY 1, 2, 3
  UNION ALL
  SELECT doc_id, y, CAST(-1 AS BIGINT), CAST(1 AS BIGINT) FROM qc_lab),
qc_stats AS (
  SELECT b, sum(CASE WHEN y = 1 THEN c ELSE 0 END) AS cp,
         sum(CASE WHEN y = 0 THEN c ELSE 0 END) AS cn
  FROM qc_x WHERE b >= 0 GROUP BY 1),
qc_tots AS (
  SELECT CAST(sum(cp) AS BIGINT) AS tp, CAST(sum(cn) AS BIGINT) AS tn
  FROM qc_stats),
qc_nd AS (
  SELECT CAST(sum(y) AS BIGINT) AS npos,
         CAST(sum(1 - y) AS BIGINT) AS nneg,
         CAST(count(*) AS BIGINT) AS n
  FROM qc_lab),
qc_full AS (
  SELECT t.b, COALESCE(s.cp, 0) AS cp, COALESCE(s.cn, 0) AS cn
  FROM range(0, {_QC_D}) t(b) LEFT JOIN qc_stats s ON s.b = t.b),
qc_w0 AS (
  SELECT CAST(b AS BIGINT) AS feature_id,
         CAST(floor(ln(
             (CAST(cp + 1 AS DOUBLE) * CAST(tn + {_QC_D} AS DOUBLE))
             / (CAST(cn + 1 AS DOUBLE) * CAST(tp + {_QC_D} AS DOUBLE))
           ) * 1000000) AS BIGINT) AS weight_micro
  FROM qc_full CROSS JOIN qc_tots
  UNION ALL
  SELECT CAST(-1 AS BIGINT),
         CAST(floor(ln(CAST(npos AS DOUBLE) / CAST(nneg AS DOUBLE))
              * 1000000) AS BIGINT)
  FROM qc_nd)"""
    ]
    for i in range(1, _QC_ITERS + 1):
        parts.append(
            f"""qc_m{i} AS (
  SELECT x.doc_id, x.y, CAST(sum(x.c * w.weight_micro) AS BIGINT) AS mm
  FROM qc_x x JOIN qc_w{i - 1} w ON w.feature_id = x.b GROUP BY 1, 2),
qc_e{i} AS (
  SELECT doc_id,
         CAST(CASE WHEN mm >= {_QC_CLAMP_MICRO} THEN 1000000
                   WHEN mm <= -{_QC_CLAMP_MICRO} THEN 0
                   ELSE floor(1000000.0 / (1.0 + exp(-(mm / 1000000.0))))
              END AS BIGINT) - 1000000 * y AS e
  FROM qc_m{i}),
qc_g{i} AS (
  SELECT x.b, CAST(sum(e.e * x.c) AS BIGINT) AS g
  FROM qc_x x JOIN qc_e{i} e USING (doc_id) GROUP BY 1),
qc_w{i} AS (
  SELECT feature_id,
         weight_micro - ((a - (((a % d) + d) % d)) // d) AS weight_micro
  FROM (
    SELECT w.feature_id, w.weight_micro,
           {_QC_LRN} * COALESCE(g.g, 0) AS a,
           {_QC_LRD} * nd.n AS d
    FROM qc_w{i - 1} w LEFT JOIN qc_g{i} g ON g.b = w.feature_id
    CROSS JOIN qc_nd nd))"""
        )
    return ",\n".join(parts)


ORACLE_QC_TRAIN = f"""
WITH {_qc_sql_chain()}
SELECT feature_id, CAST(weight_micro AS BIGINT) AS weight_micro
FROM qc_w{_QC_ITERS}
ORDER BY feature_id
"""

ORACLE_QC_APPLY = f"""
WITH {_qc_sql_chain()},
qc_fm AS (
  SELECT x.doc_id, x.y, CAST(sum(x.c * w.weight_micro) AS BIGINT) AS mm
  FROM qc_x x JOIN qc_w{_QC_ITERS} w ON w.feature_id = x.b GROUP BY 1, 2)
SELECT doc_id, mm AS margin_micro,
       CAST(CASE WHEN mm >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep,
       CAST(y AS BIGINT) AS teacher_label
FROM qc_fm
ORDER BY doc_id
"""

ORACLE_QC_GD_EVAL = f"""
WITH {_qc_sql_chain()},
qc_s0 AS (
  SELECT x.doc_id, x.y, CAST(sum(x.c * w.weight_micro) AS BIGINT) AS mm
  FROM qc_x x JOIN qc_w0 w ON w.feature_id = x.b GROUP BY 1, 2),
qc_s{_QC_ITERS} AS (
  SELECT x.doc_id, x.y, CAST(sum(x.c * w.weight_micro) AS BIGINT) AS mm
  FROM qc_x x JOIN qc_w{_QC_ITERS} w ON w.feature_id = x.b GROUP BY 1, 2)
SELECT 'nb' AS variant,
       round(sum(CASE WHEN (mm >= 0) = (y = 1) THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS train_accuracy,
       round(sum(CASE WHEN mm >= 0 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS kept_frac
FROM qc_s0
UNION ALL
SELECT 'nb_gd3' AS variant,
       round(sum(CASE WHEN (mm >= 0) = (y = 1) THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS train_accuracy,
       round(sum(CASE WHEN mm >= 0 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS kept_frac
FROM qc_s{_QC_ITERS}
ORDER BY variant
"""

QUERIES["quality_classifier_train"] = q_quality_classifier_train
ORACLE["quality_classifier_train"] = ORACLE_QC_TRAIN
QUERIES["quality_classifier_apply"] = q_quality_classifier_apply
ORACLE["quality_classifier_apply"] = ORACLE_QC_APPLY
QUERIES["quality_classifier_gd_eval"] = q_quality_classifier_gd_eval
ORACLE["quality_classifier_gd_eval"] = ORACLE_QC_GD_EVAL
