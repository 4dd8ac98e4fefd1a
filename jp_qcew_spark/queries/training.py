r"""LLM training-data assembly operators (extension tier, round 2).

The round-1 tier covered dedup / ANN / quality-gates / splits; this group
adds the remaining ops a 100 TB pretraining pipeline runs between "clean
corpus" and "training shards":

- ``seq_pack``        — pack documents into fixed token-budget training
                        sequences (concat-then-chunk in document units, the
                        GPT-style packing that wastes no budget on padding)
- ``stratified_sample`` — deterministic per-class downsampling (rebalance an
                        over-represented language), content-hash-addressed
                        like ``data_split`` so the sample is stable under
                        re-ingestion and re-sharding
- ``text_repetition`` — repeated-word ratio quality signal (the classic
                        boilerplate/spam gate alongside ``text_quality``)
- ``text_tfidf``      — per-document keyword extraction (tf, rarity-ranked)
                        — corpus-wide document frequency join done the
                        scale-safe way (aggregate then join, no collect)

Every query is hash-checked against a DuckDB oracle; every plan is shuffle-
minimal and stays JVM-side (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.io import (
    load_table,
    order_result,
    track_local_checkpoint,
    widen_scan,
)

# Presentation sorts pin NULLS LAST explicitly: Spark's ASC default is
# NULLS FIRST while DuckDB's is NULLS LAST, so any nullable sort key
# would silently reorder the driver's hash-compared output the first
# time a NULL appears (the local harness re-sorts rows and can't see it).

PACK_BUDGET = 256  # tokens per packed training sequence

_WORDS = r"\s+"


def _n_words(text):
    """Word count with the ORACLE's null semantics pinned: NULL text ->
    NULL (sum-skipped on both engines), blank -> 0. Without the isNull
    guard, ANSI-off Spark evaluates size(split(NULL)) as -1 — a poison
    value that a window SUM would silently fold into every later
    cumulative total (DuckDB's len(regexp_split(NULL)) is NULL, which
    sum() skips) — corrupting seq_pack's pack assignment for the whole
    shard the moment a corpus carries one NULL document."""
    t = F.trim(text)
    return (
        F.when(t.isNull(), F.lit(None))
        .when(t == "", F.lit(0))
        .otherwise(F.size(F.split(t, _WORDS)))
        .cast("long")
    )


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: within each source shard, lay
    documents end-to-end in doc_id order and cut every PACK_BUDGET tokens; a
    document belongs to the pack where it starts. Per-pack rollup reports
    fill (packed tokens / budget) — the metric packing exists to maximize.

    Scale shape: ONE window partitioned by ``source`` (the shard key — at
    100 TB packs are built per shard precisely so no global order is
    needed), then a groupBy on the same key prefix. No global sort, no
    collect; shard skew is bounded by shard size, which the writer controls.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", "doc_id", _n_words(F.col("text")).alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    packed = toks.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET),
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .withColumn(
            "fill",
            F.round(F.col("pack_tokens") / F.lit(PACK_BUDGET), 4),
        )
        .transform(
            order_result,
            F.col("source").asc_nulls_last(),
            F.col("pack_id").asc_nulls_last(),
        )
    )


ORACLE_SEQ_PACK = rf"""
WITH toks AS (
  SELECT source, doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
         AS n_tokens
  FROM documents
), packed AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                     - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS pack_id
  FROM toks
)
SELECT source, pack_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc,
       round(CAST(sum(n_tokens) AS BIGINT) / {PACK_BUDGET}.0, 4) AS fill
FROM packed GROUP BY source, pack_id ORDER BY source, pack_id
"""


# hex cutoff on the first 2 digits of md5(normalized text): 'xx' keeps
# int('xx',16)/256 of each class. English is over-represented in the corpus
# → keep 25% ('40'); everything else keeps 75% ('c0').
_RATE_CUTOFFS = [("en", "40")]
_DEFAULT_CUTOFF = "c0"


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-class (language) downsampling. Content-addressed:
    keep iff the first md5 byte of the normalized text falls under the
    class cutoff — same hash family as ``data_split``, so sample ∘ split is
    stable under re-ingestion, re-partitioning, and dedup. Pure map-side
    filter + one rollup shuffle; no RNG, no sampleBy (whose seed semantics
    are engine-private and unreproducible across engines). The scan is
    widened (io.widen_scan): the md5-normalize pass is compute-dense."""
    d = widen_scan(load_table(spark, sf_dir, "documents").select("lang", "text"))
    h = F.substring(
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")), 1, 2
    )
    cutoff = F.lit(_DEFAULT_CUTOFF)
    for lang, cut in _RATE_CUTOFFS:
        cutoff = F.when(F.col("lang") == lang, F.lit(cut)).otherwise(cutoff)
    return (
        d.select("lang", (h < cutoff).cast("long").alias("kept"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").alias("n_kept"),
        )
        .transform(order_result, F.col("lang").asc_nulls_last())
    )


ORACLE_STRATIFIED_SAMPLE = r"""
WITH s AS (
  SELECT lang,
         CASE WHEN substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 2)
                   < (CASE WHEN lang = 'en' THEN '40' ELSE 'c0' END)
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT lang, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept
FROM s GROUP BY lang ORDER BY lang
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-word ratio per document: 1 - distinct/total words. High
    ratio = boilerplate / keyword-stuffed / degenerate text — the standard
    repetition gate next to ``text_quality``'s length/alpha/stopword gates.
    Map-side only (array ops inside codegen); the scan is widened when
    the file index under-splits (io.widen_scan) so the tokenize/distinct
    compute isn't pinned to 1-2 cores on a compressed one-file corpus."""
    d = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    words = F.split(F.lower(F.trim(F.col("text"))), _WORDS)
    n = F.size(words).cast("long")
    nd = F.size(F.array_distinct(words)).cast("long")
    return (
        d.select(
            "doc_id",
            n.alias("n_words"),
            nd.alias("n_distinct"),
            F.round(1 - nd / n, 4).alias("rep_ratio"),
        )
        .filter(F.col("n_words") > 0)
        .withColumn("is_repetitive", (F.col("rep_ratio") > 0.5).cast("long"))
        .transform(order_result, "doc_id")
    )


ORACLE_TEXT_REPETITION = r"""
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\s+') AS words
  FROM documents
)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_words,
       CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
       round(1 - len(list_distinct(words)) / CAST(len(words) AS DOUBLE), 4)
           AS rep_ratio,
       CAST(CASE WHEN round(1 - len(list_distinct(words))
                 / CAST(len(words) AS DOUBLE), 4) > 0.5
            THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
FROM w WHERE len(words) > 0 ORDER BY doc_id
"""


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document, ranked by term frequency with corpus
    rarity as tie-break (tf DESC, document-frequency ASC, word ASC — an
    integer-only ordering that is bit-identical across engines, unlike a
    float tf·idf sort key); the tf·idf score itself is emitted as a value.

    Scale shape: explode → two partial-agg shuffles (per-doc tf, per-word
    df) → equi-join on word → bounded top-k window per doc. The corpus size
    N joins in as a 1-row broadcast scalar, NOT a driver collect, so the
    plan is fully lazy and cluster-sized."""
    d = load_table(spark, sf_dir, "documents")
    # widen only the explode path (io.widen_scan — tokenization is the
    # dense stage); the n_corpus count below keeps the raw 2-split scan
    words = (
        widen_scan(d.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), _WORDS)
            ).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_ = words.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = d.select(F.countDistinct("doc_id").alias("n_corpus"))
    scored = (
        tf.join(df_, "word")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_corpus") / F.col("df")), 4),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "word", "tf", "df", "tfidf")
        .transform(order_result, "doc_id", "rank")
    )


ORACLE_TEXT_TFIDF = r"""
WITH words AS (
  SELECT doc_id, w AS word
  FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t(w)
  WHERE w <> ''
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word
), df AS (
  SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY word
), n AS (
  SELECT count(DISTINCT doc_id) AS n_corpus FROM documents
), ranked AS (
  SELECT tf.doc_id, tf.word, tf.tf, df.df,
         round(tf.tf * ln(n.n_corpus / CAST(df.df AS DOUBLE)), 4) AS tfidf,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.word ASC)
             AS rank
  FROM tf JOIN df USING (word) CROSS JOIN n
)
SELECT doc_id, rank, word, tf, df, tfidf
FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
"""


QUERIES = {
    "seq_pack": q_seq_pack,
    "stratified_sample": q_stratified_sample,
    "text_repetition": q_text_repetition,
    "text_tfidf": q_text_tfidf,
}

ORACLE = {
    "seq_pack": ORACLE_SEQ_PACK,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "text_repetition": ORACLE_TEXT_REPETITION,
    "text_tfidf": ORACLE_TEXT_TFIDF,
}


# --------------------------------------------------------------------------
# tokenizer_bpe_merges — BPE merge-rule learning (round 8)
# --------------------------------------------------------------------------

_BPE_ROUNDS = 2


def _bpe_positions(words: DataFrame) -> DataFrame:
    """(word, freq, seq) → one row per symbol position with its successor:
    the working table BOTH the pair-count and the merge pass read."""
    pos = words.select(
        "word", "freq", F.posexplode("seq").alias("i", "sym")
    )
    wo = Window.partitionBy("word").orderBy("i")
    return pos.withColumn("nxt", F.lead("sym").over(wo))


def _bpe_round(pos: DataFrame, rnd: int):
    """One BPE training round: pick the max-frequency adjacent symbol
    pair (ties → lexicographically smallest, the deterministic rule),
    apply it greedily LEFT-TO-RIGHT (within a run of overlapping matches
    only the 1st, 3rd, … merge — the gaps-and-islands parity), rebuild
    each type's symbol sequence. Returns (stats 1-row DF, new words DF).
    """
    top = (
        pos.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("lft"), F.col("nxt").alias("rgt"))
        .agg(F.sum("freq").alias("pc"))
        .orderBy(F.col("pc").desc(), F.col("lft").asc(), F.col("rgt").asc())
        .limit(1)
    )
    f = pos.crossJoin(F.broadcast(top)).withColumn(
        "mt",
        (F.col("sym") == F.col("lft")) & (F.col("nxt") == F.col("rgt")),
    )
    wm = Window.partitionBy("word").orderBy("i")
    isl = f.filter("mt").select(
        "word", "i", (F.col("i") - F.row_number().over(wm)).alias("grp")
    )
    wg = Window.partitionBy("word", "grp").orderBy("i")
    st = (
        isl.withColumn("rin", F.row_number().over(wg))
        .filter(F.col("rin") % 2 == 1)
        .select("word", "i")
    )
    merged = (
        f.join(st.withColumn("s", F.lit(1)), ["word", "i"], "left")
        .join(
            st.select("word", (F.col("i") + 1).alias("i")).withColumn(
                "c", F.lit(1)
            ),
            ["word", "i"],
            "left",
        )
        .filter(F.col("c").isNull())
        .select(
            "word",
            "freq",
            "i",
            F.when(F.col("s") == 1, F.concat("sym", "nxt"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
    )
    new_words = merged.groupBy("word", "freq").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, sym))), t -> t.sym)"
        ).alias("seq")
    )
    nsym = new_words.agg(
        F.sum(F.size("seq")).cast("long").alias("n_symbols_after")
    )
    stats = top.select(
        F.lit(rnd).cast("long").alias("merge_round"),
        F.col("lft").alias("left_sym"),
        F.col("rgt").alias("right_sym"),
        F.col("pc").cast("long").alias("pair_freq"),
    ).crossJoin(F.broadcast(nsym))
    return stats, new_words


def _bpe_learn(words: DataFrame, rounds: int = _BPE_ROUNDS):
    """Run ``rounds`` BPE merge rounds over the word-type table; returns
    (per-round stats frames, final words).

    Production round counts (VERDICT r8 #3): real tokenizers run
    thousands of merges, and the naive loop grows the logical plan by a
    full round of windows+joins per merge — round N re-analyzes and
    replays rounds 1..N-1 from the raw corpus. The
    ``connected_components`` discipline fixes it: ``localCheckpoint``
    the type table each round (io.track_local_checkpoint — scope-managed
    like every other materialization), truncating lineage so each
    round's plan has CONSTANT depth rooted at the previous round's
    materialized table. Per-round wall time stays flat at rounds=8
    (tests/test_training.py pins the plan size; BASELINE.md r9 records
    the measured curve). The default stays at the 2-round oracle
    contract — the oracle twin is unrolled SQL, so its round count is a
    compile-time constant by construction."""
    stats = []
    for rnd in range(1, rounds + 1):
        words = track_local_checkpoint(words)
        s, words = _bpe_round(_bpe_positions(words), rnd)
        stats.append(s)
    return stats, words


def q_tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge-rule learning (Sennrich et al. 2016) —
    the tokenizer-TRAINING stage of a pretraining pipeline, run the way
    the published algorithm actually scales: statistics live on WORD
    TYPES weighted by corpus frequency, so after the one corpus-wide
    shuffle (the word count) every round works a Heaps-law-sublinear
    vocabulary table, exactly like ``text_pmi_assoc``'s margins.

    Two unrolled rounds, each: (1) adjacent-pair frequencies from ONE
    lead-window pass over the symbol positions (no self-join for
    adjacency — the ``events_markov_transitions`` rule); (2) the argmax
    pair, ties broken lexicographically (naive BPE's arbitrary tie is
    irreproducible by design — same adjudication as ``graph_label_prop``
    's min-label rule); (3) GREEDY LEFT-TO-RIGHT application: inside a
    run of overlapping matches (``aaaa`` under the ``a+a`` merge) only
    the 1st, 3rd, … merge — the gaps-and-islands parity (group =
    ``i - row_number()`` over matches, keep odd ranks), which both
    engines express with the identical two windows; (4) sequence rebuild
    via the ``array_sort(collect_list(struct(i, sym)))`` determinism
    device from ``semdedup_mutual``. A regex-replace "apply" would be
    WRONG here: left-to-right regex replacement consumes the separator
    between back-to-back matches and silently skips every second
    overlapping occurrence differently than BPE's scan does.

    Output: the learned merge table — (round, left, right, weighted pair
    frequency, total symbols across types after the merge). 100 TB: one
    corpus shuffle + per-round type-table windows; the argmax pair is a
    1-row broadcast."""
    d = widen_scan(load_table(spark, sf_dir, "documents").select("text"))
    toks = d.filter(F.trim("text") != "").select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    words = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    words = words.withColumn(
        "seq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ),
    )
    stats, _ = _bpe_learn(words)
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.orderBy("merge_round")


def _bpe_oracle_round(prev: str, rnd: int) -> str:
    """Unrolled oracle twin of one ``_bpe_round``: identical lead window,
    identical argmax tie-break, identical islands parity."""
    return f"""m{rnd} AS (
  SELECT word, freq, i, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
  FROM {prev}
),
t{rnd} AS (
  SELECT sym AS lft, nxt AS rgt, CAST(sum(freq) AS BIGINT) AS pc
  FROM m{rnd} WHERE nxt IS NOT NULL
  GROUP BY 1, 2 ORDER BY pc DESC, lft ASC, rgt ASC LIMIT 1
),
f{rnd} AS (
  SELECT m.*, t.lft, t.rgt, t.pc,
         CASE WHEN m.sym = t.lft AND m.nxt = t.rgt THEN 1 ELSE 0 END AS mt
  FROM m{rnd} m CROSS JOIN t{rnd} t
),
isl{rnd} AS (
  SELECT word, i,
         i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
  FROM f{rnd} WHERE mt = 1
),
st{rnd} AS (
  SELECT word, i FROM (
    SELECT word, i, row_number() OVER (
        PARTITION BY word, grp ORDER BY i) AS rin
    FROM isl{rnd}
  ) WHERE rin % 2 = 1
),
s{rnd + 1} AS (
  SELECT f.word, f.freq,
         row_number() OVER (PARTITION BY f.word ORDER BY f.i) - 1 AS i,
         CASE WHEN s.i IS NOT NULL THEN f.sym || f.nxt ELSE f.sym END AS sym
  FROM f{rnd} f
  LEFT JOIN st{rnd} s ON f.word = s.word AND f.i = s.i
  LEFT JOIN st{rnd} c ON f.word = c.word AND f.i = c.i + 1
  WHERE c.i IS NULL
),
res{rnd} AS (
  SELECT CAST({rnd} AS BIGINT) AS merge_round,
         lft AS left_sym, rgt AS right_sym, pc AS pair_freq,
         (SELECT CAST(count(*) AS BIGINT) FROM s{rnd + 1})
           AS n_symbols_after
  FROM t{rnd}
)"""


ORACLE_TOKENIZER_BPE = rf"""
WITH w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
    FROM documents WHERE trim(text) <> ''
  ) WHERE word <> '' GROUP BY word
),
s1 AS (
  SELECT word, freq,
         unnest(range(0, length(word))) AS i,
         unnest(list_transform(range(0, length(word)),
                k -> substr(word, CAST(k + 1 AS INT), 1))) AS sym
  FROM w
),
{_bpe_oracle_round("s1", 1)},
{_bpe_oracle_round("s2", 2)}
SELECT * FROM res1 UNION ALL SELECT * FROM res2 ORDER BY merge_round
"""

QUERIES["tokenizer_bpe_merges"] = q_tokenizer_bpe_merges
ORACLE["tokenizer_bpe_merges"] = ORACLE_TOKENIZER_BPE


def q_tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE side of BPE — apply the merges
    ``tokenizer_bpe_merges`` learns to the corpus and report each
    document's tokenized size, closing the tokenizer train→apply loop a
    training pipeline actually runs (token counts are what seq-packing,
    budget accounting, and price estimation consume downstream).

    The trick that makes apply CHEAP at 100 TB is the same one that
    makes training cheap: merges act on WORDS, so segmentation is
    computed once per word TYPE (the same two-round greedy-left
    machinery, on the Heaps-law type table) and documents just join
    their word instances to the type's post-merge symbol count — a
    keyed equi-join of corpus word instances against the type table,
    exactly ``text_lm_score``'s model/score shape. Per document:
    word count, character total, BPE symbol total, and the compression
    ratio (symbols/chars, the metric tokenizer quality is judged by).
    Top-30 most-compressed documents (ties → doc_id) keep the result
    bounded."""
    d = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    inst = d.filter(F.trim("text") != "").select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    words = inst.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    words = words.withColumn(
        "seq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ),
    )
    _, words = _bpe_learn(words)
    sizes = words.select(
        "word",
        F.length("word").cast("long").alias("n_chars"),
        F.size("seq").cast("long").alias("n_syms"),
    )
    return (
        inst.join(sizes, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_syms").cast("long").alias("n_tokens_bpe"),
            F.round(
                F.sum("n_syms").cast("double")
                / F.sum("n_chars").cast("double"),
                6,
            ).alias("compression"),
        )
        .orderBy(F.col("compression").asc(), F.col("doc_id").asc())
        .limit(30)
    )


ORACLE_TOKENIZER_BPE_APPLY = rf"""
WITH inst AS (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
    FROM documents WHERE trim(text) <> ''
  ) WHERE word <> ''
),
w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM inst GROUP BY word),
s1 AS (
  SELECT word, freq,
         unnest(range(0, length(word))) AS i,
         unnest(list_transform(range(0, length(word)),
                k -> substr(word, CAST(k + 1 AS INT), 1))) AS sym
  FROM w
),
{_bpe_oracle_round("s1", 1)},
{_bpe_oracle_round("s2", 2)},
sizes AS (
  SELECT word, CAST(length(word) AS BIGINT) AS n_chars,
         CAST(count(*) AS BIGINT) AS n_syms
  FROM s3 GROUP BY word
)
SELECT i.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(z.n_chars) AS BIGINT) AS n_chars,
       CAST(sum(z.n_syms) AS BIGINT) AS n_tokens_bpe,
       round(CAST(sum(z.n_syms) AS DOUBLE)
             / CAST(sum(z.n_chars) AS DOUBLE), 6) AS compression
FROM inst i JOIN sizes z USING (word)
GROUP BY i.doc_id
ORDER BY compression ASC, doc_id ASC
LIMIT 30
"""

QUERIES["tokenizer_bpe_apply"] = q_tokenizer_bpe_apply
ORACLE["tokenizer_bpe_apply"] = ORACLE_TOKENIZER_BPE_APPLY


# --------------------------------------------------------------------------
# tokenizer_pack_pipeline — BPE token counts feeding sequence packing (r9)
# --------------------------------------------------------------------------


def q_tokenizer_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer→packing path (VERDICT r8 #6): the per-document
    BPE symbol counts ``tokenizer_bpe_apply`` produces feed ``seq_pack``'s
    concat-then-chunk packing — the composition a training-prep pipeline
    actually runs (packs are cut on TOKENIZED lengths, not whitespace
    words; what ``llm_prep_pipeline`` demonstrates for the curation tier,
    this demonstrates for training prep).

    Scale shape is the sum of its parts and nothing more: segmentation is
    computed once per word TYPE (``_bpe_learn`` on the Heaps-law type
    table, localCheckpoint per round), documents join their word
    instances to the type sizes ONCE (one keyed equi-join + one
    (source, doc_id) rollup), and the packing stage consumes only the
    doc-level aggregate — one window per source shard, one rollup, ZERO
    re-tokenization (plan-pinned: a single join of the instance table in
    the whole plan). Blank/wordless documents carry no tokens and take no
    pack slot on either engine."""
    d = widen_scan(
        load_table(spark, sf_dir, "documents").select(
            "source", "doc_id", "text"
        )
    )
    inst = (
        d.filter(F.trim("text") != "")
        .select(
            "source",
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
                "word"
            ),
        )
        .filter(F.col("word") != "")
    )
    words = inst.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    words = words.withColumn(
        "seq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ),
    )
    _, words = _bpe_learn(words)
    sizes = words.select("word", F.size("seq").cast("long").alias("n_syms"))
    doc_toks = (
        inst.join(sizes, "word")
        .groupBy("source", "doc_id")
        .agg(F.sum("n_syms").cast("long").alias("n_tokens"))
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    packed = doc_toks.withColumn(
        "pack_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET
        ),
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .withColumn(
            "fill", F.round(F.col("pack_tokens") / F.lit(PACK_BUDGET), 4)
        )
        .transform(
            order_result,
            F.col("source").asc_nulls_last(),
            F.col("pack_id").asc_nulls_last(),
        )
    )


ORACLE_TOKENIZER_PACK = rf"""
WITH inst AS (
  SELECT source, doc_id, word FROM (
    SELECT source, doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
    FROM documents WHERE trim(text) <> ''
  ) WHERE word <> ''
),
w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM inst GROUP BY word),
s1 AS (
  SELECT word, freq,
         unnest(range(0, length(word))) AS i,
         unnest(list_transform(range(0, length(word)),
                k -> substr(word, CAST(k + 1 AS INT), 1))) AS sym
  FROM w
),
{_bpe_oracle_round("s1", 1)},
{_bpe_oracle_round("s2", 2)},
sizes AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n_syms FROM s3 GROUP BY word
),
doc_toks AS (
  SELECT i.source, i.doc_id, CAST(sum(z.n_syms) AS BIGINT) AS n_tokens
  FROM inst i JOIN sizes z USING (word)
  GROUP BY i.source, i.doc_id
),
packed AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                     - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS pack_id
  FROM doc_toks
)
SELECT source, pack_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc,
       round(CAST(sum(n_tokens) AS BIGINT) / {PACK_BUDGET}.0, 4) AS fill
FROM packed GROUP BY source, pack_id ORDER BY source, pack_id
"""

QUERIES["tokenizer_pack_pipeline"] = q_tokenizer_pack_pipeline
ORACLE["tokenizer_pack_pipeline"] = ORACLE_TOKENIZER_PACK
