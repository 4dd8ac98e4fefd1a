"""Dedup queries over ``documents`` — exact, Jaccard pairs, MinHash-LSH,
SimHash (north-star LLM-pipeline tier; builders in jp_qcew_spark.ext.dedup).

The md5-based hash family makes every stage — including the MinHash
signatures and LSH candidate sets — bit-identical between Spark and the
DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.ext import dedup as D
from jp_qcew_spark.functions.text import fingerprint
from jp_qcew_spark.io import (
    cache_parallel,
    load_table,
    metadata_row_count,
    order_result,
    track_cache,
    widen_scan,
)

_SH_SQL = r"""
  SELECT doc_id,
         CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3
              THEN []::VARCHAR[]
              ELSE list_distinct(list_transform(
                range(len(regexp_split_to_array(trim(text), '\s+')) - 2),
                i -> list_extract(regexp_split_to_array(trim(text), '\s+'), i+1)
                  || ' ' ||
                     list_extract(regexp_split_to_array(trim(text), '\s+'), i+2)
                  || ' ' ||
                     list_extract(regexp_split_to_array(trim(text), '\s+'), i+3)))
         END AS shset
  FROM documents
"""


def _exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) distinct word-3-gram rows — the codegen'd hot path
    (see ext.dedup.exploded_shingles). The scan is widened (io.widen_scan)
    so shingling isn't pinned to a few splits on a compressed one-file
    corpus: the downstream cache_parallel repartition only spreads rows
    AFTER the explode — the shingle compute itself runs at scan
    parallelism (measured at sf1: minhash 4.1 → 1.6 s once widened)."""
    d = widen_scan(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return D.exploded_shingles(d, "doc_id", "text")


def _capped_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_exploded`` with the stop-shingle cap (ext.dedup.stop_shingle_filter),
    cached at core-count width: the one shingle universe the shared-shingle
    queries count both intersections and set sizes over, so their Jaccard
    stays self-consistent."""
    return cache_parallel(D.stop_shingle_filter(_exploded(spark, sf_dir)))


# the df <= cap filter mirrors ext.dedup.stop_shingle_filter (DF_CAP_DEFAULT)
_CAPPED_EX_SQL = rf"""sh AS ({_SH_SQL}),
ex0 AS (SELECT doc_id, unnest(shset) AS s FROM sh),
ex AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM ex0
  ) WHERE df <= {D.DF_CAP_DEFAULT}
)"""


def _overlap(a: DataFrame, b: DataFrame, item: str = "shingle") -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b): every pair doc_a < doc_b sharing
    at least one ``item`` of two (doc_id, item) frames, with the shared
    count and both set sizes.

    Candidates come from the item-keyed equi-join, so only docs sharing an
    item meet (never n²); sizes are counted over ``b``, so ``a`` is ``b``
    itself or a slice of its docs. The size table is one row per document,
    so it never carries a broadcast hint (AQE still broadcasts it when
    small); only a bounded ``a`` may be hinted by the caller."""
    pairs = (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col(f"a.{item}") == F.col(f"b.{item}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sizes = b.groupBy("doc_id").agg(F.count("*").alias("sz"))
    return (
        pairs.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.col("sa.sz").alias("sz_a"),
            F.col("sb.sz").alias("sz_b"),
        )
    )


def _overlap_sql(name: str, ex: str, item: str = "s") -> str:
    """CTE ``name(doc_a, doc_b, inter, sz_a, sz_b)``: ``_overlap`` of the
    (doc_id, item) relation ``ex`` with itself, in DuckDB."""
    return f"""{name} AS (
  SELECT p.doc_a, p.doc_b, p.inter, sa.sz AS sz_a, sb.sz AS sz_b
  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM {ex} a JOIN {ex} b ON a.{item} = b.{item} AND a.doc_id < b.doc_id
        GROUP BY 1, 2) p
  JOIN (SELECT doc_id, count(*) AS sz FROM {ex} GROUP BY doc_id) sa
    ON p.doc_a = sa.doc_id
  JOIN (SELECT doc_id, count(*) AS sz FROM {ex} GROUP BY doc_id) sb
    ON p.doc_b = sb.doc_id)"""


def _jaccard() -> Column:
    """Unrounded Jaccard of an ``_overlap`` row."""
    return F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))


def _near_dup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, comp) near-dup cluster labels: connected components
    (ext.graph.connected_components) of the Jaccard ≥ 0.1 pair graph over
    the capped shingles, labelled by the cluster's min doc_id. The
    threshold is unrounded, as in ``_NEAR_DUP_SQL``."""
    from jp_qcew_spark.ext.graph import connected_components

    ex = _capped_shingles(spark, sf_dir)
    edges = _overlap(ex, ex).filter(_jaccard() >= 0.1)
    return connected_components(edges.select("doc_a", "doc_b"), "doc_a", "doc_b")


def _components_sql(
    edges: str, a: str = "doc_a", b: str = "doc_b", node: str = "doc_id"
) -> str:
    """CTEs ``ue``, ``reach`` and ``comp(node, comp)``: connected components
    of the undirected graph ``edges(a, b)`` in DuckDB, labelled by the min
    reachable id. ``reach`` grows one edge hop per recursion until the
    fixpoint (UNION dedups), so the chain needs ``WITH RECURSIVE``."""
    return f"""ue AS (
  SELECT {a} AS a, {b} AS b FROM {edges}
  UNION ALL SELECT {b}, {a} FROM {edges}
),
reach(src, dst) AS (
  SELECT a, a FROM ue GROUP BY a
  UNION
  SELECT r.src, e.b FROM reach r JOIN ue e ON r.dst = e.a
),
comp AS (SELECT src AS {node}, min(dst) AS comp FROM reach GROUP BY src)"""


_NEAR_DUP_SQL = f"""{_CAPPED_EX_SQL},
{_overlap_sql("pairs", "ex")},
pedges AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE inter::DOUBLE / (sz_a + sz_b - inter) >= 0.1
),
{_components_sql("pedges")}"""


def _band_labels(edges: Sequence[float]) -> list[str]:
    """Bin labels of descending ``edges``: "0.90+", "0.70-0.90", …; the
    last bin is everything below its upper edge."""
    return [f"{edges[0]:.2f}+"] + [
        f"{lo:.2f}-{hi:.2f}" for lo, hi in zip(edges[1:], edges)
    ]


def _binned_recall(
    truth: DataFrame,
    score: str,
    edges: Sequence[float],
    hits: dict[str, DataFrame],
    keys: list[str],
) -> DataFrame:
    """Pair recall binned by true similarity: ``truth`` holds the true
    pairs (``keys``) with their ``score``, binned as ``sim_band`` by
    descending ``edges`` (``_band_labels``); each ``hits`` frame is one
    generator's pairs. Per bin: BIGINT ``n_true``, then ``n_<x>`` and
    ``recall_<x>`` (hits over n_true, 4 digits) per hit set ``x``. Rows
    come back unordered."""
    labels = _band_labels(edges)
    band = F.when(F.col(score) >= edges[0], labels[0])
    for lo, label in zip(edges[1:-1], labels[1:-1]):
        band = band.when(F.col(score) >= lo, label)
    out = truth
    for x, h in hits.items():
        out = out.join(h.select(*keys, F.lit(1).alias(f"hit_{x}")), keys, "left")
    out = (
        out.select(band.otherwise(labels[-1]).alias("sim_band"),
                   *(f"hit_{x}" for x in hits))
        .groupBy("sim_band")
        .agg(
            F.count("*").cast("long").alias("n_true"),
            *(
                F.coalesce(F.sum(f"hit_{x}"), F.lit(0)).cast("long").alias(f"n_{x}")
                for x in hits
            ),
        )
    )
    for x in hits:
        out = out.withColumn(
            f"recall_{x}", F.round(F.col(f"n_{x}") / F.col("n_true"), 4)
        )
    return out


def _binned_recall_sql(
    name: str,
    truth: str,
    score: str,
    edges: Sequence[float],
    hits: dict[str, str],
    keys: list[str],
) -> str:
    """CTEs ``{name}_l`` and ``name``: ``_binned_recall`` in DuckDB, each
    ``hits`` value naming a pair relation."""
    labels = _band_labels(edges)
    case = "".join(
        f"WHEN t.{score} >= {e} THEN '{label}' "
        for e, label in zip(edges[:-1], labels)
    )
    flags, joins = [], []
    for i, (x, rel) in enumerate(hits.items()):
        flags.append(f"CASE WHEN h{i}.{keys[0]} IS NULL THEN 0 ELSE 1 END AS hit_{x}")
        on = " AND ".join(f"h{i}.{k} = t.{k}" for k in keys)
        joins.append(f"LEFT JOIN {rel} h{i} ON {on}")
    cnt = "".join(f", CAST(sum(hit_{x}) AS BIGINT) AS n_{x}" for x in hits)
    rec = "".join(f", round(sum(hit_{x}) / count(*), 4) AS recall_{x}" for x in hits)
    return f"""{name}_l AS (
  SELECT CASE {case}ELSE '{labels[-1]}' END AS sim_band, {", ".join(flags)}
  FROM {truth} t {" ".join(joins)}
),
{name} AS (
  SELECT sim_band, CAST(count(*) AS BIGINT) AS n_true{cnt}{rec}
  FROM {name}_l GROUP BY sim_band
)"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized md5 fingerprint: keeper = min doc_id per
    fingerprint group (one shuffle on the 128-bit key)."""
    d = widen_scan(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return (
        d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .transform(order_result, "keeper_doc_id")
    )


ORACLE_DEDUP_EXACT = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY fp ORDER BY keeper_doc_id
"""


def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-3-gram Jaccard ≥ 0.2 (rounded to 6):
    the shared-shingle pairs of ``_overlap`` over ``_capped_shingles``.
    The stop-shingle cap keeps one ubiquitous shingle from exploding the
    self-join quadratically."""
    ex = _capped_shingles(spark, sf_dir)
    return (
        _overlap(ex, ex)
        .select("doc_a", "doc_b", F.round(_jaccard(), 6).alias("jac"))
        .filter(F.col("jac") >= 0.2)
        .transform(order_result, "doc_a", "doc_b")
    )


ORACLE_DEDUP_JACCARD_PAIRS = f"""
WITH {_CAPPED_EX_SQL},
{_overlap_sql("pairs", "ex")}
SELECT doc_a, doc_b,
       round(inter::DOUBLE / (sz_a + sz_b - inter), 6) AS jac
FROM pairs
WHERE round(inter::DOUBLE / (sz_a + sz_b - inter), 6) >= 0.2
ORDER BY doc_a, doc_b
"""


_NUM_HASHES = 12
_ROWS_PER_BAND = 4
_NUM_BANDS = _NUM_HASHES // _ROWS_PER_BAND


def _sig_band_sql(
    num_hashes: int = _NUM_HASHES, rows_per_band: int = _ROWS_PER_BAND
) -> tuple[str, str]:
    """(sig_exprs, band_selects) SQL fragments of the fixed-family
    signature derivation, which ``_MH_CTES`` assembles. The band stride
    follows ``rows_per_band``, so a family change slices the right mh
    columns."""
    sig_exprs = ",\n         ".join(
        f"list_min(list_transform(shset, s -> md5('{i}:' || s))) AS mh_{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, "
        "md5("
        + " || ".join(
            f"mh_{rows_per_band * b + r}" for r in range(rows_per_band)
        )
        + ") AS band_key FROM sig"
        for b in range(num_hashes // rows_per_band)
    )
    return sig_exprs, band_selects


def _band_pairs_sql(banded: str, id: str, a: str, b: str) -> str:
    """CTE ``cand(a, b)``: the DuckDB twin of ``ext.dedup.band_pairs``
    over the relation ``banded`` (``id``, band_idx, band_key): DISTINCT
    id pairs, a < b, sharing a band key in the same band."""
    return f"""cand AS (
  SELECT DISTINCT l.{id} AS {a}, r.{id} AS {b}
  FROM {banded} l JOIN {banded} r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.{id} < r.{id}
)"""


def _jaccard_sql(x: str, y: str) -> str:
    """Unrounded shingle Jaccard of the ``shset`` lists of rows ``x`` and
    ``y``."""
    inter = f"len(list_intersect({x}.shset, {y}.shset))"
    return f"{inter}::DOUBLE / (len({x}.shset) + len({y}.shset) - {inter})"


_SIG_EXPRS, _BAND_SELECTS = _sig_band_sql()

# The fixed family's signature chain in DuckDB: shingle sets (``sh``),
# docs with at least one shingle (``nonempty``), 12 md5 minima per doc
# (``sig``) and 3 band keys of 4 minima each (``banded``).
_MH_CTES = f"""sh AS ({_SH_SQL}),
nonempty AS (SELECT * FROM sh WHERE len(shset) > 0),
sig AS (
  SELECT doc_id, shset,
         {_SIG_EXPRS}
  FROM nonempty
),
banded AS (
{_BAND_SELECTS}
)"""
_MH_CAND_SQL = _band_pairs_sql("banded", "doc_id", "doc_a", "doc_b")


def _minhash_cand(
    ex: DataFrame, bands: int, rpb: int
) -> tuple[DataFrame, DataFrame]:
    """(sig, cand) of exploded shingles ``ex``: ``sig`` the (doc_id,
    mh_0..mh_{bands*rpb-1}) MinHash signatures, ``cand`` the DISTINCT
    same-band pairs (doc_a < doc_b, ``ext.dedup.band_pairs``) over the
    posexploded band keys, ``rpb`` minima per band. Its DuckDB twin is
    ``_MH_CTES`` plus ``_MH_CAND_SQL``."""
    num_hashes = bands * rpb
    sig = D.minhash_from_exploded(ex, "doc_id", num_hashes)
    sig_arr = F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)])
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[D.band_key(sig_arr, b, rpb) for b in range(bands)])
        ).alias("band_idx", "band_key"),
    )
    return sig, D.band_pairs(banded, "doc_id", "doc_a", "doc_b")


def _jaccard_verify(ex: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact Jaccard for DISTINCT candidate pairs over the exploded
    shingle frame: (doc_a, doc_b, jac) with jac UNROUNDED — callers
    round/filter per their own contract (the drive harness rounds to 9,
    so the unrounded double is hash-safe; engine-side rounding belongs
    to the caller's threshold semantics). The ONE copy of the verify
    chain every MinHash-family query shares (code-review late-r11:
    three hand-copies had already needed the same rounded-filter fix
    applied separately).

    Shape: first narrow the exploded shingles to docs appearing in some
    candidate pair (semi-join), then intersect within that small set
    and join per-doc set sizes. NO broadcast hints anywhere: on an
    honest corpus |candidates| << |corpus| and AQE converts these joins
    to broadcast at runtime, but on an adversarial/templated corpus
    (every doc sharing a band) ``cand``/``exc`` scale with the corpus
    and a forced broadcast would OOM executors — the r1/r2 rule that no
    dedup-family broadcast side may grow with corpus size (plan-tested
    in tests/test_plans.py). ``exc`` is scope-cached here (consumed by
    the intersect join twice and the sizes agg); callers cache ``cand``
    themselves (they typically reuse it)."""
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    exc = track_cache(ex.join(cand_docs, "doc_id", "semi"))
    inter = (
        cand.join(exc.alias("xa"), F.col("doc_a") == F.col("xa.doc_id"))
        .join(
            exc.alias("xb"),
            (F.col("doc_b") == F.col("xb.doc_id"))
            & (F.col("xa.shingle") == F.col("xb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    # sizes is one row per candidate doc — usually tiny, but unbounded in
    # the worst case, so no broadcast hint; AQE broadcasts it when small
    sizes = exc.groupBy("doc_id").agg(F.count("*").alias("sz"))
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))
            ).alias("jac"),
        )
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12)+LSH(3 bands × 4 rows) near-dup detection, Jaccard-verified.

    Signatures are md5-string minima (portable across engines); candidate
    pairs are docs agreeing on ≥1 band; survivors verified at Jaccard ≥ 0.2.
    At scale the only shuffles are the band-bucket join and the verify join —
    the classic sub-quadratic LSH plan.
    """
    ex = cache_parallel(_exploded(spark, sf_dir))
    _sig, cand = _minhash_cand(ex, _NUM_BANDS, _ROWS_PER_BAND)
    cand = track_cache(cand)
    return (
        _jaccard_verify(ex, cand)
        .select(
            "doc_a", "doc_b", F.round(F.col("jac"), 6).alias("jac")
        )
        .filter(F.col("jac") >= 0.2)
        .transform(order_result, "doc_a", "doc_b")
    )


ORACLE_DEDUP_MINHASH_LSH = rf"""
WITH {_MH_CTES},
{_MH_CAND_SQL}
SELECT doc_a, doc_b, round({_jaccard_sql("x", "y")}, 6) AS jac
FROM cand JOIN nonempty x ON x.doc_id = doc_a JOIN nonempty y ON y.doc_id = doc_b
WHERE round({_jaccard_sql("x", "y")}, 6) >= 0.2
ORDER BY doc_a, doc_b
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (md5-hex majority-vote bits) — grouped to
    hash values so collisions (potential near-dups) surface. The scan is
    widened (io.widen_scan): the 32-bit-column hash fold is compute-dense
    map work — measured 4.8 → 1.6 s at sf1 on the 2-split corpus."""
    d = widen_scan(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    hashed = D.simhash32(d, "doc_id", "text")
    return (
        hashed.groupBy("simhash")
        .agg(F.min("doc_id").alias("first_doc"), F.count("*").alias("n_docs"))
        .transform(order_result, "first_doc")
    )


ORACLE_DEDUP_SIMHASH = r"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS t
  FROM documents WHERE trim(text) <> ''
), dig AS (
  SELECT doc_id, md5(t) AS h, unnest(range(8)) AS k FROM tok
), vals AS (
  SELECT doc_id, k, strpos('0123456789abcdef', substr(h, k + 1, 1)) - 1 AS val
  FROM dig
), bits AS (
  SELECT doc_id, k, val, unnest(range(4)) AS j FROM vals
), bit AS (
  SELECT doc_id, k * 4 + j AS pos,
         CAST(floor(val / power(2, j)) AS BIGINT) % 2 AS b
  FROM bits
), per_pos AS (
  SELECT doc_id, pos, sum(b) AS ones, count(*) AS n_tok
  FROM bit GROUP BY 1, 2
), sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN 2 * ones > n_tok THEN power(2, pos) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM per_pos GROUP BY doc_id
)
SELECT simhash, min(doc_id) AS first_doc, count(*) AS n_docs
FROM sh GROUP BY simhash ORDER BY first_doc
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard_pairs": q_dedup_jaccard_pairs,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
}

ORACLE = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_jaccard_pairs": ORACLE_DEDUP_JACCARD_PAIRS,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
}


def q_dedup_char_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard near-dup pairs (≥ 0.5) — the script-agnostic
    dedup variant (word shingles assume whitespace segmentation; char grams
    work for CJK/no-space text). Normalized = lowercased, whitespace
    collapsed. Same exploded keyed-join plan as the word-gram family; the
    gram explosion is bounded per doc by text length, and distinct() keeps
    one row per (doc, gram)."""
    k = 5
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias("t"),
        )
        .filter(F.length("t") >= k)
    )
    grams = (
        d.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("t") - (k - 1))
            ).alias("pos"),
            F.col("t"),
        )
        .select("doc_id", F.expr(f"substring(t, pos, {k})").alias("gram"))
        .distinct()
    )
    grams = cache_parallel(grams)
    return (
        _overlap(grams, grams, "gram")
        .select("doc_a", "doc_b", F.round(_jaccard(), 6).alias("jac"))
        .filter(F.col("jac") >= 0.5)
        .transform(order_result, "doc_a", "doc_b")
    )


ORACLE_DEDUP_CHAR_NGRAM = rf"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id < 300
), g AS (
  SELECT DISTINCT doc_id,
         substr(t, CAST(unnest(range(1, length(t) - 3)) AS INTEGER), 5) AS gram
  FROM d WHERE length(t) >= 5
), {_overlap_sql("pairs", "g", "gram")}
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sz_a + sz_b - inter), 6) AS jac
FROM pairs
WHERE round(inter * 1.0 / (sz_a + sz_b - inter), 6) >= 0.5
ORDER BY doc_a, doc_b
"""


def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed train/val/test split: assignment = range of the
    first 2 hex digits of md5(normalized text) (~80/10/10). Hash-of-content
    (not of doc_id) keeps the split stable under re-ingestion, re-sharding
    and dedup — the property a training-data split actually needs. Pure
    map-side; the only shuffle is the final per-split rollup."""
    d = load_table(spark, sf_dir, "documents")
    h = F.substring(fingerprint(F.col("text")), 1, 2)
    split = (
        F.when(h < "cc", F.lit("train"))
        .when(h < "e6", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), F.col("doc_id"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .transform(order_result, "split")
    )


ORACLE_DATA_SPLIT = r"""
WITH s AS (
  SELECT doc_id,
         CASE WHEN substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM s GROUP BY split ORDER BY split
"""

QUERIES["dedup_char_ngram"] = q_dedup_char_ngram
QUERIES["data_split"] = q_data_split
ORACLE["dedup_char_ngram"] = ORACLE_DEDUP_CHAR_NGRAM
ORACLE["data_split"] = ORACLE_DATA_SPLIT


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: every clustered doc with its ``_near_dup_labels``
    component (the cluster's min doc_id) and the component size. This is
    the step a dedup pipeline runs after pair generation: transitive
    closure (a~b, b~c ⇒ {a,b,c} one cluster even when a≁c)."""
    labels = _near_dup_labels(spark, sf_dir)
    comp_sizes = labels.groupBy("comp").agg(F.count("*").alias("comp_size"))
    return (
        labels.join(comp_sizes, "comp")
        .select(F.col("id").alias("doc_id"), "comp", "comp_size")
        .transform(order_result, "doc_id")
    )


ORACLE_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_NEAR_DUP_SQL}
SELECT doc_id, comp, sz.comp_size
FROM comp
JOIN (SELECT comp, count(*) AS comp_size FROM comp GROUP BY comp) sz
  USING (comp)
ORDER BY doc_id
"""

QUERIES["dedup_components"] = q_dedup_components
ORACLE["dedup_components"] = ORACLE_DEDUP_COMPONENTS


def _keep_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, comp, quality, single) for every document: its
    ``_near_dup_labels`` cluster (its own id and ``single`` when
    unclustered) and its composite quality score (functions.text)."""
    from jp_qcew_spark.functions import text as X

    labels = _near_dup_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.quality_score(F.col("text")).alias("quality")
    )
    return docs.join(labels, docs["doc_id"] == labels["id"], "left").select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).alias("comp"),
        "quality",
        F.col("comp").isNull().alias("single"),
    )


# ``_keep_labels`` in DuckDB, over the ``comp`` CTE of _NEAR_DUP_SQL
_KEEP_LAB_SQL = r"""qt AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> x IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it',
                        'that', 'for'))) AS sw,
         length(regexp_replace(text, '\s+', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(text) AS total
  FROM documents
),
docs AS (
  SELECT doc_id,
         CASE WHEN n = 0 OR total = 0 THEN NULL
              ELSE round(0.4 * (sw::DOUBLE / n)
                   + 0.3 * least(nonspace::DOUBLE / n / 10.0, 1.0)
                   + 0.3 * (alpha::DOUBLE / total), 4) END AS quality
  FROM qt
),
lab AS (
  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp, d.quality,
         (c.comp IS NULL) AS single
  FROM docs d LEFT JOIN comp c USING (doc_id)
)"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-cluster dedup — the keep policy on top of the cluster
    structure: ``dedup_exact`` keeps min-id, ``semdedup_*`` keeps the
    centroid; a curation pipeline keeps the HIGHEST-QUALITY member of each
    near-dup cluster and drops the rest, so the dedup pass and the quality
    pass compose instead of fighting.

    Ranking inside a cluster: quality descending, ties to the smaller
    doc_id, quality NULLs (empty text) last — pinned NULLS LAST on both
    engines because DuckDB's DESC default is nulls-first while Spark's is
    nulls-last. Every document gets a verdict: ``kept_best`` (cluster
    winner), ``dropped_dup`` (outranked member), ``singleton``
    (unclustered; component label = own id). The comp-keyed window's
    partition size is the cluster size, bounded by the dedup structure."""
    w = Window.partitionBy("comp").orderBy(
        F.col("quality").desc_nulls_last(), F.col("doc_id").asc()
    )
    return (
        _keep_labels(spark, sf_dir)
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "comp",
            "quality",
            F.when(F.col("single"), F.lit("singleton"))
            .when(F.col("rk") == 1, F.lit("kept_best"))
            .otherwise(F.lit("dropped_dup"))
            .alias("action"),
        )
        .transform(order_result, "doc_id")
    )


ORACLE_DEDUP_KEEP_BEST = f"""
WITH RECURSIVE {_NEAR_DUP_SQL},
{_KEEP_LAB_SQL},
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY comp
      ORDER BY quality DESC NULLS LAST, doc_id ASC) AS rk
  FROM lab
)
SELECT doc_id, comp, quality,
       CASE WHEN single THEN 'singleton'
            WHEN rk = 1 THEN 'kept_best'
            ELSE 'dropped_dup' END AS action
FROM ranked
ORDER BY doc_id
"""

QUERIES["dedup_keep_best"] = q_dedup_keep_best
ORACLE["dedup_keep_best"] = ORACLE_DEDUP_KEEP_BEST


def q_dedup_keep_best_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep policy's price tag: survivor count and mean survivor
    quality under ``min_id`` (the ``dedup_exact``-style keeper) vs
    ``best_quality`` (``dedup_keep_best``) on the SAME cluster structure.
    Both policies keep one survivor per cluster plus the singletons, so
    the whole delta is quality. Two window ranks on the same comp-keyed
    partition over the scope-cached labels."""
    lab = track_cache(_keep_labels(spark, sf_dir).drop("single"))
    wq = Window.partitionBy("comp").orderBy(
        F.col("quality").desc_nulls_last(), F.col("doc_id").asc()
    )
    wi = Window.partitionBy("comp").orderBy(F.col("doc_id").asc())
    ranked = lab.select(
        "comp",
        "quality",
        F.row_number().over(wq).alias("rq"),
        F.row_number().over(wi).alias("ri"),
    )
    out = []
    for policy, col in (("best_quality", "rq"), ("min_id", "ri")):
        out.append(
            ranked.filter(F.col(col) == 1).agg(
                F.lit(policy).alias("policy"),
                F.count(F.lit(1)).alias("survivors"),
                F.round(F.avg("quality"), 6).alias("avg_quality"),
            )
        )
    return out[0].unionByName(out[1]).orderBy("policy")


ORACLE_DEDUP_KEEP_BEST_EVAL = f"""
WITH RECURSIVE {_NEAR_DUP_SQL},
{_KEEP_LAB_SQL},
ranked AS (
  SELECT comp, quality,
         row_number() OVER (
             PARTITION BY comp
             ORDER BY quality DESC NULLS LAST, doc_id ASC) AS rq,
         row_number() OVER (
             PARTITION BY comp ORDER BY doc_id ASC) AS ri
  FROM lab
)
SELECT 'best_quality' AS policy, CAST(count(*) AS BIGINT) AS survivors,
       round(avg(quality), 6) AS avg_quality
FROM ranked WHERE rq = 1
UNION ALL
SELECT 'min_id' AS policy, CAST(count(*) AS BIGINT) AS survivors,
       round(avg(quality), 6) AS avg_quality
FROM ranked WHERE ri = 1
ORDER BY policy
"""

QUERIES["dedup_keep_best_eval"] = q_dedup_keep_best_eval
ORACLE["dedup_keep_best_eval"] = ORACLE_DEDUP_KEEP_BEST_EVAL


# --------------------------------------------------------------------------
# dedup_fuzzy — edit-distance record linkage with blocking
# --------------------------------------------------------------------------

_FZ_HEAD = 40  # chars of normalized head compared by edit distance
_FZ_BLK = 8  # chars of blocking prefix
_FZ_DIST = 5  # max Levenshtein distance to call a pair fuzzy-linked
_FZ_BLK_CAP = 64  # max docs per block before the block is skipped


def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by EDIT DISTANCE — the record-linkage member of
    the dedup family (typo'd titles, OCR noise — variation Jaccard shingles
    miss because a single in-word typo changes every overlapping shingle).

    Plan: block on the first 8 normalized chars (equi-join key), compare
    Levenshtein over the first 40 chars only within a block, keep pairs with
    distance <= 5. Classic blocking linkage: candidate count is
    sum-of-block-sizes², not corpus², and the Levenshtein (O(40²) per pair,
    JVM codegen) runs only on candidates.

    Scale guards, both mirrored in the oracle: the a<b inequality halves the
    self-join, and blocks larger than 64 docs are dropped entirely (the
    stop-shingle rule applied to linkage blocking — an over-common prefix is
    boilerplate, not a typo cluster, and would reintroduce the quadratic).
    """
    d = load_table(spark, sf_dir, "documents")
    heads = d.select(
        "doc_id",
        F.substring(F.lower(F.trim("text")), 1, _FZ_HEAD).alias("head"),
        F.substring(F.lower(F.trim("text")), 1, _FZ_BLK).alias("blk"),
    )
    bf = heads.groupBy("blk").agg(F.count("*").alias("_bf"))
    heads = heads.join(bf, "blk").filter(F.col("_bf") <= _FZ_BLK_CAP)
    a, b = heads.alias("a"), heads.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.head"), F.col("b.head")).alias("dist"),
        )
        .filter(F.col("dist") <= _FZ_DIST)
        .transform(order_result, "doc_a", "doc_b")
    )


ORACLE_DEDUP_FUZZY = f"""
WITH h AS (
  SELECT doc_id,
         substr(lower(trim(text)), 1, {_FZ_HEAD}) AS head,
         substr(lower(trim(text)), 1, {_FZ_BLK}) AS blk
  FROM documents
), capped AS (
  SELECT * FROM h
  WHERE blk IN (
    SELECT blk FROM h GROUP BY blk HAVING count(*) <= {_FZ_BLK_CAP}
  )
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.head, b.head) AS dist
FROM capped a JOIN capped b
  ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= {_FZ_DIST}
ORDER BY doc_a, doc_b
"""

QUERIES["dedup_fuzzy"] = q_dedup_fuzzy
ORACLE["dedup_fuzzy"] = ORACLE_DEDUP_FUZZY


# --------------------------------------------------------------------------
# dedup_passages — passage-level (sub-document) duplication audit
# --------------------------------------------------------------------------

_PSG_WORDS = 16


def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact deduplication audit — the C4/CCNet line-dedup
    rule lifted to fixed 16-word passages: a passage that appears in more
    than one document is corpus boilerplate and would be stripped before
    training. Reports per-source passage counts, cross-document duplicate
    counts, and the duplication ratio.

    Spark-first: passages come from the same ``sequence``+``posexplode``+
    ``slice`` codegen fan-out as ``text_chunk`` (no UDFs); each passage is
    immediately collapsed to its md5 FINGERPRINT so the groupBy and the
    audit join shuffle 32-byte keys, never passage text — at 100 TB the
    shuffle carries ~3% of the corpus bytes. Two keyed shuffles (global
    fingerprint counts, per-source rollup) + one fingerprint equi-join;
    cross-document occurrence uses countDistinct(doc_id), so intra-doc
    repetition (``text_repetition``'s axis) doesn't inflate it. The scan
    is widened (io.widen_scan) so the passage fan-out + md5 runs at core
    parallelism on few-split corpora."""
    d = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    ws = F.split(F.trim("text"), r"\s+")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("ws") - 1, F.lit(0)), F.lit(_PSG_WORDS)
    )
    psg = (
        d.select("doc_id", "source", ws.alias("ws"))
        .select("doc_id", "source", F.explode(starts).alias("st"), "ws")
        .select(
            "doc_id",
            "source",
            F.md5(
                F.array_join(F.slice("ws", F.col("st") + 1, _PSG_WORDS), " ")
            ).alias("fp"),
        )
    )
    counts = psg.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        psg.join(counts, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_passages"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_dup_passages"),
            F.round(
                F.sum((F.col("nd") > 1).cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("dup_ratio"),
        )
        .transform(order_result, "source")
    )


ORACLE_DEDUP_PASSAGES = rf"""
WITH w AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents
), s AS (
  SELECT doc_id, source, ws,
         unnest(range(0, greatest(len(ws) - 1, 0) + 1, {_PSG_WORDS})) AS st
  FROM w
), p AS (
  SELECT doc_id, source,
         md5(array_to_string(ws[st+1:st+{_PSG_WORDS}], ' ')) AS fp
  FROM s
), c AS (
  SELECT fp, count(DISTINCT doc_id) AS nd FROM p GROUP BY 1
)
SELECT source, CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_passages,
       round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS dup_ratio
FROM p JOIN c USING (fp)
GROUP BY source ORDER BY source
"""

QUERIES["dedup_passages"] = q_dedup_passages
ORACLE["dedup_passages"] = ORACLE_DEDUP_PASSAGES


# --------------------------------------------------------------------------
# dedup_sorted_neighborhood — sorted-neighborhood method (SNM) blocking
# --------------------------------------------------------------------------

_SNM_WINDOW = 3   # compare each doc to its next 3 neighbors in sort order
_SNM_NEAR = 20    # edit-distance threshold on the 64-char signature
_SNM_BUCKET_PREFIX = 2  # chars of the sort key that name a bucket


def _snm_base(d: DataFrame) -> DataFrame:
    """(doc_id, key, sig): the SNM sort key (first 32 normalized chars)
    and the printable-ASCII 64-char comparison signature."""
    norm = F.coalesce(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
        F.lit(""),
    )
    ascii_norm = F.regexp_replace(norm, "[^ -~]", "")
    return d.select(
        "doc_id",
        F.substring(norm, 1, 32).alias("key"),
        F.substring(ascii_norm, 1, 64).alias("sig"),
    )


def _snm_positions(base: DataFrame) -> DataFrame:
    """Exact global sort position (doc_id, sig, pos) via deterministic
    prefix bucketing — shared by ``dedup_sorted_neighborhood`` and its
    recall eval so the measured positions ARE the pipeline's (see the
    SNM docstring for why this beats repartitionByRange)."""
    bktd = base.withColumn(
        "bkt", F.substring(F.col("key"), 1, _SNM_BUCKET_PREFIX)
    )
    counts = bktd.groupBy("bkt").agg(F.count("*").alias("cnt"))
    # single-partition window is safe HERE ONLY: counts is the aggregated
    # bucket frame, ≤ alphabet^prefix rows regardless of corpus size
    w_off = Window.orderBy(F.col("bkt").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bkt", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    w_local = Window.partitionBy("bkt").orderBy(
        F.col("key").asc(), F.col("doc_id").asc()
    )
    return (
        bktd.withColumn("lrk", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "bkt")
        .select(
            "doc_id",
            "sig",
            (F.col("off") + F.col("lrk")).cast("long").alias("pos"),
        )
    )


def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidate generation (Hernández &
    Stolfo's record-linkage SNM): sort the corpus by a normalized key and
    compare each record only to its next ``_SNM_WINDOW`` neighbors —
    O(n·w) comparisons instead of O(n²), the complementary blocking
    strategy to hash blocking (``dedup_fuzzy``) and LSH (minhash): it
    catches prefix-similar near-dups that land in different hash blocks.

    Spark-first shape:
    1. the EXACT GLOBAL POSITION comes from DETERMINISTIC PREFIX
       BUCKETING: bucket = the first ``_SNM_BUCKET_PREFIX`` chars of the
       sort key. A character prefix is a byte prefix, so bucket order is
       consistent with key order under Spark's (and DuckDB's) binary
       string comparison — global row_number over (key, doc_id) equals
       per-bucket row_number plus the running count of earlier buckets.
       Unlike ``repartitionByRange`` (whose RDD-id-SEEDED boundary
       sampling made duplicated subtrees assign the same row different
       partitions — the round-4 bug this replaces), every piece here is a
       pure function of the data: both sides of the later self-join
       recompute IDENTICAL positions with no checkpoint/materialization.
       The offsets table is bounded by the bucket-alphabet (≤ a few
       thousand 2-char prefixes), so its global running-sum window and
       the broadcast are trivially small at any corpus size. Knob: a
       corpus sharing one long common prefix skews the per-bucket window
       — raise ``_SNM_BUCKET_PREFIX`` to split it (offsets stay tiny);
    2. the neighborhood join is a KEYED equi-join: each row fans out to
       ``_SNM_WINDOW`` (pos, delta) probes and joins on
       ``a.pos + delta = b.pos`` — dense integer positions make the range
       window an equi-key, so no range-join or cartesian appears.
    The Levenshtein verify runs on bounded 64-char signatures (cost is
    O(64²) per pair, not doc-length-squared), on candidate pairs only.
    The signature is projected to PRINTABLE ASCII on both engines before
    the distance: DuckDB's ``levenshtein`` counts BYTES while Spark's
    counts CHARACTERS (lev('é','e') = 2 vs 1), so any non-ASCII byte in
    the comparison window would silently diverge the engines — the
    corpus is ASCII today, which is data luck, not matching semantics
    (same hazard class as the r4 exact-timestamp session-gap fix).
    The self-join's two subtree instances each re-scan and re-normalize
    (no cache): same deliberate double-scan trade as qcew_etl — at
    100 TB a full-corpus persist of (doc_id, sig, pos) is the bottleneck,
    a second columnar scan is not.
    """
    # widen before normalizing: the per-bucket rank window re-evaluates
    # the regex normalize on whatever split count the scan produced —
    # an under-split single-file corpus would run it on 2 of 32 cores
    d = widen_scan(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    pos = _snm_positions(_snm_base(d))
    deltas = F.explode(
        F.array(*[F.lit(i) for i in range(1, _SNM_WINDOW + 1)])
    ).alias("delta")
    a = pos.select("doc_id", "sig", "pos", deltas).alias("a")
    b = pos.alias("b")
    pairs = a.join(
        b, F.col("a.pos") + F.col("a.delta") == F.col("b.pos")
    ).select(
        F.col("a.pos").alias("pos_a"),
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.delta").cast("long").alias("delta"),
        F.levenshtein(F.col("a.sig"), F.col("b.sig")).cast("long").alias("lev"),
    )
    return (
        pairs.withColumn(
            "is_near", (F.col("lev") <= _SNM_NEAR).cast("long")
        )
        .transform(order_result, "pos_a", "delta")
    )


ORACLE_DEDUP_SNM = rf"""
WITH k AS (
  SELECT doc_id,
         substr(coalesce(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                         ''), 1, 32) AS key,
         substr(regexp_replace(
                  coalesce(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                           ''), '[^ -~]', '', 'g'), 1, 64) AS sig
  FROM documents
), p AS (
  SELECT doc_id, sig,
         CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT) AS pos
  FROM k
)
SELECT a.pos AS pos_a, a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(b.pos - a.pos AS BIGINT) AS delta,
       CAST(levenshtein(a.sig, b.sig) AS BIGINT) AS lev,
       CAST(CASE WHEN levenshtein(a.sig, b.sig) <= {_SNM_NEAR}
            THEN 1 ELSE 0 END AS BIGINT) AS is_near
FROM p a JOIN p b ON b.pos - a.pos BETWEEN 1 AND {_SNM_WINDOW}
ORDER BY pos_a, delta
"""

QUERIES["dedup_sorted_neighborhood"] = q_dedup_sorted_neighborhood
ORACLE["dedup_sorted_neighborhood"] = ORACLE_DEDUP_SNM


# --------------------------------------------------------------------------
# dedup_snm_recall_eval — planted-cohort recall of the SNM window (round 12)
# --------------------------------------------------------------------------

_SNM_EVAL_WINDOWS = (1, 3, 5)   # swept knob; production runs _SNM_WINDOW=3
_SNM_PLANT_TARGET = 50          # planted near-pair count (stride-sampled)
_SNM_PLANT_OFFSET = 10_000_000  # planted twin doc_id = original + offset


def q_dedup_snm_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured (window, recall, cost) curve for the sorted-neighborhood
    near-dup tier — the recall evidence SNM was missing (VERDICT r11 #7):
    MinHash/RP carry DERIVED recall contracts (their S-curves are closed
    form), but SNM recall depends on how edits move records through the
    SORT ORDER, which has no closed form — so, like the IVF tier
    (``knn_ivf_recall_curve``), the production discipline is to MEASURE
    the recall/cost curve and pick the window that clears the floor.

    Planted cohort: every stride-th document (footer-derived stride,
    ~``_SNM_PLANT_TARGET`` plants at any corpus size) gets a twin whose
    normalized key/signature differ by ONE character substitution at
    1-based position 3 + (doc_id % 40) — deterministically spanning
    EARLY positions (which move the twin's sort key away from the
    original: the blocking failure mode SNM is known for) through LATE /
    past-end positions (sort-adjacent twins: SNM's home turf), while
    never touching the 2-char bucket prefix (global positions make
    bucket boundaries a non-event by construction — that is the point of
    the offsets design in ``_snm_positions``, which this eval SHARES
    with the pipeline so measured positions are the served positions).
    A planted pair is recalled at window w iff its global sort distance
    is ≤ w AND the Levenshtein check the pipeline applies passes
    (verified, not assumed — lev = 1 ≤ ``_SNM_NEAR`` by construction).
    The cost axis is exact: SNM at window w over N rows compares
    w·N − w(w+1)/2 pairs. Both ratios/counts are exact-integer
    arithmetic, so the curve is bit-identical cross-engine.

    Measured verdict (sf0.001/0.01/0.1): recall 0.92/0.82/0.68 at the
    production window w=3; w=5 buys +0.00/+0.02/+0.08 for 67% more
    comparisons. Two priced facts fall out: (1) a FIXED window's recall
    DECAYS as the corpus densifies (0.92 → 0.68 across 10× docs) — the
    same edit costs more RANK distance when more keys crowd each prefix
    — so a recall floor at scale needs window growth ~ density, the
    cost SNM's O(n·w) was chosen to avoid; (2) the loss is ALL
    sort-key-early edits: past-key-edit plants recall 10/10 at w=3
    (sf0.1) while in-key edits recall 24/40. Both are the measured
    reason the engine ALSO ships hash/LSH blocking (``dedup_fuzzy``,
    ``dedup_minhash_*``): the families are complementary, and now both
    sides of that trade carry numbers."""
    n = metadata_row_count(spark, sf_dir, "documents")
    # the planted-twin id space (doc_id + _SNM_PLANT_OFFSET) must not
    # alias REAL documents: an aliased twin would join a real row into
    # the planted-pair ground truth and both engines would agree on the
    # corrupted recall — no hash gate catches it — so the eval fails
    # LOUDLY instead of measuring garbage (ADVICE r12). doc_ids are the
    # 0..n-1 synthetic range; on a corpus where they weren't dense the
    # right guard is max(doc_id), priced here by the cheap footer count.
    if n >= _SNM_PLANT_OFFSET:
        raise ValueError(
            f"dedup_snm_recall_eval: corpus has {n} documents >= "
            f"_SNM_PLANT_OFFSET={_SNM_PLANT_OFFSET}; planted twin ids "
            "would alias real doc_ids and corrupt the measured recall "
            "— raise the offset above max(doc_id)"
        )
    stride = max(1, n // _SNM_PLANT_TARGET)
    d = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    base = _snm_base(d)
    # p derives from the PLANT INDEX (doc_id // stride), not doc_id: the
    # planted ids are stride multiples, so doc_id % 40 would collapse to
    # gcd-many values (stride 100 → positions {3, 23} only) instead of
    # sweeping all 40 edit depths at every corpus size
    pch = base.filter(F.col("doc_id") % stride == 0).withColumn(
        "p", F.expr(f"CAST(3 + (doc_id div {stride}) % 40 AS INT)")
    )

    def mut(c: str):
        return F.concat(
            F.expr(f"substring({c}, 1, p - 1)"),
            F.lit("~"),
            F.expr(f"substring({c}, p + 1, 64)"),
        )

    planted = pch.select(
        (F.col("doc_id") + _SNM_PLANT_OFFSET).alias("doc_id"),
        mut("key").alias("key"),
        mut("sig").alias("sig"),
    )
    uni = base.unionByName(planted)
    pos = _snm_positions(uni)
    o, t = pos.alias("o"), pos.alias("t")
    prs = track_cache(
        o.join(
            t, F.col("t.doc_id") == F.col("o.doc_id") + _SNM_PLANT_OFFSET
        ).select(
            F.abs(F.col("t.pos") - F.col("o.pos")).alias("dist"),
            F.levenshtein(F.col("o.sig"), F.col("t.sig")).alias("lev"),
        )
    )
    tot = prs.agg(F.count("*").alias("planted_pairs"))
    nn = uni.agg(F.count("*").alias("nu"))
    ws = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w).alias("win"),
                        F.lit(w * (w + 1) // 2).alias("tri"),
                    )
                    for w in _SNM_EVAL_WINDOWS
                ]
            )
        ).alias("s")
    ).select("s.win", "s.tri")
    agg = (
        prs.crossJoin(F.broadcast(ws))
        .groupBy("win", "tri")
        .agg(
            F.sum(
                (
                    (F.col("dist") <= F.col("win"))
                    & (F.col("lev") <= _SNM_NEAR)
                ).cast("long")
            ).alias("found")
        )
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("win").cast("long").alias("win"),
            "planted_pairs",
            "found",
            F.round(F.col("found") / F.col("planted_pairs"), 6).alias(
                "recall"
            ),
            (F.col("win") * F.col("nu") - F.col("tri"))
            .cast("long")
            .alias("pairs_compared"),
        )
        .transform(order_result, "win")
    )


_SNM_EVAL_WS_SQL = " UNION ALL ".join(
    f"SELECT {w} AS win, {w * (w + 1) // 2} AS tri"
    for w in _SNM_EVAL_WINDOWS
)

ORACLE_DEDUP_SNM_RECALL = rf"""
WITH k AS (
  SELECT doc_id,
         substr(coalesce(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                         ''), 1, 32) AS key,
         substr(regexp_replace(
                  coalesce(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                           ''), '[^ -~]', '', 'g'), 1, 64) AS sig
  FROM documents
),
snm_st AS (
  SELECT greatest(1, CAST(floor(count(*) / {_SNM_PLANT_TARGET}.0) AS BIGINT))
    AS s
  FROM documents
),
pl AS (
  SELECT doc_id + {_SNM_PLANT_OFFSET} AS doc_id,
         substr(key, 1, p - 1) || '~' || substr(key, p + 1, 64) AS key,
         substr(sig, 1, p - 1) || '~' || substr(sig, p + 1, 64) AS sig
  FROM (SELECT *,
               CAST(3 + (doc_id // (SELECT s FROM snm_st)) % 40 AS INT) AS p
        FROM k
        WHERE doc_id % (SELECT s FROM snm_st) = 0)
),
uni AS (
  SELECT doc_id, key, sig FROM k
  UNION ALL SELECT doc_id, key, sig FROM pl
),
p AS (
  SELECT doc_id, sig,
         CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT) AS pos
  FROM uni
),
prs AS (
  SELECT abs(t.pos - o.pos) AS dist, levenshtein(o.sig, t.sig) AS lev
  FROM p o JOIN p t ON t.doc_id = o.doc_id + {_SNM_PLANT_OFFSET}
),
tot AS (SELECT count(*) AS planted_pairs FROM prs),
nn AS (SELECT count(*) AS nu FROM uni),
ws AS ({_SNM_EVAL_WS_SQL})
SELECT CAST(ws.win AS BIGINT) AS win,
       tot.planted_pairs,
       CAST(sum(CASE WHEN prs.dist <= ws.win AND prs.lev <= {_SNM_NEAR}
                THEN 1 ELSE 0 END) AS BIGINT) AS found,
       round(sum(CASE WHEN prs.dist <= ws.win AND prs.lev <= {_SNM_NEAR}
                 THEN 1 ELSE 0 END) / tot.planted_pairs, 6) AS recall,
       CAST(ws.win * nn.nu - ws.tri AS BIGINT) AS pairs_compared
FROM ws CROSS JOIN prs CROSS JOIN tot CROSS JOIN nn
GROUP BY ws.win, ws.tri, tot.planted_pairs, nn.nu
ORDER BY win
"""

QUERIES["dedup_snm_recall_eval"] = q_dedup_snm_recall_eval
ORACLE["dedup_snm_recall_eval"] = ORACLE_DEDUP_SNM_RECALL


def q_text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-similarity near-dup pairs — the asymmetric companion to
    ``dedup_jaccard_pairs``: C(A→B) = |S(A)∩S(B)| / |S(A)| (Broder's
    containment). A short document quoted inside a much longer one scores
    high containment but LOW Jaccard (the union is dominated by the long
    doc), so a Jaccard-only dedup pass ships the duplicated passage into
    training — this is the standard gate for subset/quotation dupes.

    Same pairs as the Jaccard query (``_overlap`` over
    ``_capped_shingles``); each pair (doc_a < doc_b) keeps both
    directions' containments and is kept when max(C_ab, C_ba) ≥ 0.5."""
    ex = _capped_shingles(spark, sf_dir)
    return (
        _overlap(ex, ex)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / F.col("sz_a"), 6).alias("cont_ab"),
            F.round(F.col("inter") / F.col("sz_b"), 6).alias("cont_ba"),
        )
        .filter(F.greatest("cont_ab", "cont_ba") >= 0.5)
        .transform(order_result, "doc_a", "doc_b")
    )


ORACLE_TEXT_CONTAINMENT = f"""
WITH {_CAPPED_EX_SQL},
{_overlap_sql("pairs", "ex")}
SELECT doc_a, doc_b,
       round(inter::DOUBLE / sz_a, 6) AS cont_ab,
       round(inter::DOUBLE / sz_b, 6) AS cont_ba
FROM pairs
WHERE greatest(round(inter::DOUBLE / sz_a, 6),
               round(inter::DOUBLE / sz_b, 6)) >= 0.5
ORDER BY doc_a, doc_b
"""

QUERIES["text_containment"] = q_text_containment
ORACLE["text_containment"] = ORACLE_TEXT_CONTAINMENT


# --------------------------------------------------------------------------
# dedup_minhash_est_eval — MinHash estimator quality as a query
# --------------------------------------------------------------------------


def q_dedup_minhash_est_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-quality eval — the dedup-tier analog of
    ``knn_recall_eval``: for every LSH candidate pair, compare the
    signature-agreement estimate ``k_agree / 12`` (the unbiased MinHash
    Jaccard estimator, Broder 1997) with the EXACT shingle Jaccard, and
    emit the absolute error. Operationally this answers "could the
    pipeline trust signatures and skip the exact-verify join?" — the
    eval runs on exactly the candidate set the verify stage sees.

    Composition, not re-derivation: signatures, banding, candidates, and
    the exact-verify chain are the SAME code paths ``dedup_minhash_lsh``
    ships (ext.dedup builders + the semi-join-narrowed intersect), so a
    driver hash match re-proves those paths too. Estimates and errors
    are unrounded doubles — each is one IEEE division (or subtraction)
    of exact integers, bit-identical across engines, no libm calls.

    Scale shape: identical to the LSH query (band-bucket join + verify
    join, no corpus-growing broadcast) plus one signature equi-join per
    pair side — signatures are one row per doc, joined on doc_id."""
    ex = cache_parallel(_exploded(spark, sf_dir))
    sig, cand = _minhash_cand(ex, _NUM_BANDS, _ROWS_PER_BAND)
    cand = track_cache(cand)
    k_agree = sum(
        (F.col(f"sa.mh_{i}") == F.col(f"sb.mh_{i}")).cast("int")
        for i in range(_NUM_HASHES)
    ).cast("long")
    est = (
        cand.join(sig.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", k_agree.alias("k_agree"))
    )
    exact = _jaccard_verify(ex, cand).withColumnRenamed(
        "jac", "jac_exact"
    )
    return (
        est.join(exact, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "k_agree",
            (F.col("k_agree") / F.lit(float(_NUM_HASHES))).alias("jac_est"),
            "jac_exact",
            F.abs(
                F.col("k_agree") / F.lit(float(_NUM_HASHES))
                - F.col("jac_exact")
            ).alias("abs_err"),
        )
        .transform(order_result, "doc_a", "doc_b")
    )


_MH_AGREE_SQL = " + ".join(
    f"(CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END)"
    for i in range(_NUM_HASHES)
)

ORACLE_DEDUP_MINHASH_EST = rf"""
WITH {_MH_CTES},
{_MH_CAND_SQL},
scored AS (
  SELECT doc_a, doc_b,
         CAST({_MH_AGREE_SQL} AS BIGINT) AS k_agree,
         CAST({_MH_AGREE_SQL} AS DOUBLE) / {_NUM_HASHES} AS jac_est,
         {_jaccard_sql("x", "y")} AS jac_exact
  FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b
)
SELECT doc_a, doc_b, k_agree, jac_est, jac_exact,
       abs(jac_est - jac_exact) AS abs_err
FROM scored ORDER BY doc_a, doc_b
"""


QUERIES["dedup_minhash_est_eval"] = q_dedup_minhash_est_eval
ORACLE["dedup_minhash_est_eval"] = ORACLE_DEDUP_MINHASH_EST


# --------------------------------------------------------------------------
# dedup_exact_substring — verbatim-run pair detection (round 7)
# --------------------------------------------------------------------------

_ESS_WIN = 40      # chars per window — a "verbatim run" is >= one window
_ESS_DF_CAP = 32   # anchors in more docs than this are corpus boilerplate


def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-duplication pairs — the verbatim-copy detector next
    to the probabilistic family (MinHash/SimHash estimate set overlap;
    this finds literally identical character runs, the signal behind
    suffix-array training-data dedup a la Lee et al., "Deduplicating
    Training Data Makes Language Models Better", re-expressed as a
    distributed content-defined-anchor join).

    Anchor selection is CONTENT-DEFINED, not grid-aligned: every 40-char
    window is hashed (one codegen'd md5 per position), and a window is an
    ANCHOR iff its hash is a strict local minimum of the per-document
    hash sequence (the winnowing/local-extremum selection family —
    Schleimer, Wilkerson & Aiken's MOSS fingerprinting). Because
    anchor positions depend only on the BYTES around them, two documents
    sharing a verbatim run select the SAME in-run anchors no matter
    where the run sits in either document. The first cut of this
    operator used stride-20 grid windows; the hypothesis property sweep
    (tests/test_round7_ops.py) immediately found the flaw — a shared run
    is only detected when both copies land at offsets congruent mod the
    stride — and this selection replaces it. Expected anchor density is
    1/3 of positions; for any shared run the in-run anchor set is
    deterministic and identical on both sides.

    Scale guards, same discipline as the shingle tier: (1) anchors are
    DISTINCT per doc before anything fingerprint-keyed shuffles, (2)
    fingerprints present in more than ``_ESS_DF_CAP`` docs are dropped
    as boilerplate (caps join fan-out at DF_CAP² per fingerprint), (3)
    only the 32-byte fingerprint ever shuffles, never window text. Four
    keyed shuffles end-to-end: the per-doc position window (doc_id), the
    distinct, df counts, pair aggregation. ``containment`` = shared /
    min(anchors_a, anchors_b) over the same distinct-anchor universe, so
    a short doc fully embedded in a long one scores 1.0."""
    d = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # Anchor extraction is ONE codegen projection per document — the hash
    # array and the local-min filter are higher-order functions (transform
    # / filter over sequence), so each md5 is computed once, non-anchor
    # positions never materialize as rows, and there is NO per-position
    # window shuffle (the first lag/lead formulation sorted every position
    # row per doc: 2.53x wall at 10x data; this form is scan-parallel).
    # Spark array subscripts are 0-based; the guard length >= 42 makes
    # every hs[j-1]/hs[j+1] access total. The local-min test compares md5
    # hex strings lexicographically — identical ASCII collation on both
    # engines.
    anchors = (
        d.filter(F.length("text") >= _ESS_WIN + 2)
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, length(text) - {_ESS_WIN}),"
                f" i -> md5(substr(text, i + 1, {_ESS_WIN})))"
            ).alias("hs"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(filter("
                    "  transform(sequence(1, size(hs) - 2),"
                    "    j -> CASE WHEN hs[j] < hs[j - 1]"
                    "               AND hs[j] < hs[j + 1]"
                    "          THEN hs[j] END),"
                    "  x -> x IS NOT NULL))"
                )
            ).alias("fp"),
        )
    )
    # array_distinct already dedupes per doc, so the exploded frame IS
    # the distinct (doc_id, fp) table — no extra shuffle. It feeds FIVE
    # consumers (df counts, both join sides, both per-doc sizes) —
    # scope-cached so the hash pass runs once, not five times.
    wins = cache_parallel(anchors)
    nw = wins.groupBy("doc_id").agg(F.count("*").alias("n"))
    freq = wins.groupBy("fp").agg(F.count("*").alias("nd"))
    keep = freq.filter(
        (F.col("nd") >= 2) & (F.col("nd") <= _ESS_DF_CAP)
    ).select("fp")
    w = wins.join(keep, "fp")
    pairs = (
        w.alias("a")
        .join(
            w.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_windows"))
        .filter(F.col("shared_windows") >= 2)
    )
    return (
        pairs.join(nw.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
        .join(nw.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "shared_windows",
            F.col("x.n").alias("win_a"),
            F.col("y.n").alias("win_b"),
            F.round(
                F.col("shared_windows") / F.least("x.n", "y.n"), 6
            ).alias("containment"),
        )
        .orderBy(F.col("shared_windows").desc(), "doc_a", "doc_b")
        .limit(100)
    )


ORACLE_DEDUP_EXACT_SUBSTRING = f"""
WITH hs AS (
  SELECT doc_id,
         list_transform(range(0, length(text) - {_ESS_WIN - 1}),
                        i -> md5(substr(text, i + 1, {_ESS_WIN}))) AS hs
  FROM documents WHERE length(text) >= {_ESS_WIN + 2}
), anch AS (
  SELECT doc_id,
         list_distinct(list_filter(
           list_transform(range(1, len(hs) - 1),
             j -> CASE WHEN hs[j + 1] < hs[j]
                        AND hs[j + 1] < hs[j + 2]
                  THEN hs[j + 1] END),
           x -> x IS NOT NULL)) AS fps
  FROM hs
), w AS (
  SELECT doc_id, unnest(fps) AS fp FROM anch
),
nw AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
freq AS (SELECT fp, count(*) AS nd FROM w GROUP BY 1),
keep AS (SELECT fp FROM freq WHERE nd BETWEEN 2 AND {_ESS_DF_CAP}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_windows
  FROM w a JOIN keep USING (fp) JOIN w b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT doc_a, doc_b, shared_windows,
       CAST(x.n AS BIGINT) AS win_a,
       CAST(y.n AS BIGINT) AS win_b,
       round(shared_windows * 1.0 / least(x.n, y.n), 6) AS containment
FROM pairs
JOIN nw x ON doc_a = x.doc_id
JOIN nw y ON doc_b = y.doc_id
ORDER BY shared_windows DESC, doc_a, doc_b
LIMIT 100
"""

QUERIES["dedup_exact_substring"] = q_dedup_exact_substring
ORACLE["dedup_exact_substring"] = ORACLE_DEDUP_EXACT_SUBSTRING


# --------------------------------------------------------------------------
# dedup_minhash_target + dedup_minhash_recall_eval — the recall contract on
# the TEXT near-dup tier
# --------------------------------------------------------------------------

# Production text near-dup target: catch document pairs at Jaccard >=
# _MH_TGT_JACCARD with probability >= _MH_TGT_RECALL. The fixed family
# above (dedup_minhash_lsh, 12 hashes / 3 bands / 4 rows) has whatever
# recall those constants happen to give at a given threshold. Here
# (bands, rows_per_band) are DERIVED from the target, exactly the
# _lsh_cfg_rp_target pattern re-instantiated on Jaccard's S-curve
# 1-(1-s^r)^b (band collision probability for a pair at Jaccard s is
# s^r — each of the r hash minima agrees independently w.p. s).
_MH_TGT_JACCARD = 0.8
_MH_TGT_RECALL = 0.9

# The occupancy-style rule for rows-per-band: a background pair at
# Jaccard s_bg collides per band w.p. s_bg^r, so expected background
# candidates per doc per band are ~ n * s_bg^r; holding that at <= 16
# (the embedding tier's per-bucket occupancy constant) gives
# r = ceil(log(n/16) / log(1/s_bg)) — r grows with log n, so background
# volume per band stays CONSTANT as the corpus grows, the exact analog
# of log2(n/16) sign bits. s_bg = 0.1 is a design constant for the
# effective similarity of non-duplicate documents that share topical
# n-grams (an order of magnitude below the 0.2 floor the verified
# family reports); the recall eval MEASURES the resulting per-bin
# recall, so the constant's adequacy is certified, not assumed.
_MH_BG_JACCARD = 0.1

# Hash-function budget the oracle enumerates (the _RP_TGT_PLANES
# device): the SQL twin derives signatures for hash ids
# i < bands*rows_per_band under a fixed range(0, _MH_TGT_HASHES) scan,
# so a config needing more must RAISE here rather than letting the
# oracle silently truncate the signature (the _lsh_cfg_rp rule).
# b*r at the derived config: 6 at n=500, 12 at 5e3, 20 at 5e4,
# 30 at 1e6, 104 at 1e9 — 128 covers n ~ 1.6e9 documents.
_MH_TGT_HASHES = 128

# Planted near-dup cohorts (the certification fixture): the synthetic
# corpus has only a handful of natural pairs above Jaccard 0.8, so the
# >=0.8-bin certification needs planted positives, the _PLANT_COHORTS
# pattern on text. Originals are the docs with doc_id < _DOC_PLANT_MAX
# and at least _DOC_PLANT_TOKENS whitespace tokens (short docs cannot
# stay above the threshold under either perturbation); each original
# gets two copies at pinned id offsets:
#   +1e6: the text with two NOVEL tokens appended — m-token docs share
#         all m-2 original 3-grams and add 2, so J ~ (m-2)/m >= 0.93
#         at m >= 30;
#   +2e6: the token PREFIX keeping p = m - floor((m-2)/6) tokens — the
#         prefix's grams are a subset, J ~ (p-2)/(m-2) ~ 0.83-0.86,
#         just above the threshold.
# Both transforms are plain token arithmetic (split / slice / concat)
# with the same expression text on both engines, so the planted texts
# are byte-identical cross-engine. Offsets are guarded against corpus
# id collision the same way _aug_vecs is (ADVICE r10).
_DOC_PLANT_MAX = 200
_DOC_PLANT_TOKENS = 30
_DOC_PLANT_OFFS = (1_000_000, 2_000_000)

# Recall-eval truth slice: ground truth is computed for pairs whose
# smaller doc_id sits below this bound (covers every planted original),
# keeping the truth pass |slice| x n — linear, never n².
_DOC_EVAL_SLICE = 300
_MH_EVAL_EDGES = (0.8, 0.6, 0.4, 0.2)  # the eval's Jaccard bins


def _lsh_cfg_minhash_target(
    n: int,
    threshold: float = _MH_TGT_JACCARD,
    recall: float = _MH_TGT_RECALL,
) -> tuple[int, int]:
    """(bands, rows_per_band) derived FROM a (Jaccard threshold, recall
    floor) target — ``_lsh_cfg_rp_target``'s contract re-instantiated on
    the MinHash S-curve: rows_per_band from the background-suppression
    occupancy rule (module comment at ``_MH_BG_JACCARD``), then
    bands = ceil(ln(1-recall)/ln(1-threshold^r)). Pairs ABOVE the
    threshold collide with higher probability (s^r increasing in s), so
    the floor certifies the whole >=threshold region.

    Cross-engine determinism: the oracle re-derives the identical pair
    in SQL (``_mh_cfg_sql``) under the shared half-up quantization
    discipline (``_qgrid`` — p^r and log ratios hit the 1e-12/1e-6
    grids with the same tie rule before ceil), so libm ulps cannot
    diverge the derived config. The hash budget raises loudly when
    outgrown (the oracle would otherwise silently truncate signatures).

    Candidate-volume price (same honest math as the RP tier): the
    occupancy rule pins background volume per band, and the contract
    forces b ~ threshold^-r, so candidates grow ~ n^(1 + ln t/ln s_bg)
    (n^1.097 at t=0.8, s_bg=0.1) — nearly linear here because Jaccard's
    per-band collision decays by 10x per row against the RP tier's 2x
    per bit. The fixed family (``dedup_minhash_lsh``) keeps its pinned
    constants for callers without a contract.

    No cost sweep over rows_per_band (unlike ``_lsh_cfg_rp_target``):
    measured candidate volume under the floor config is dominated by
    true pairs, and deeper rows cut nothing while raising signature hash
    work (BASELINE.md "One LSH candidate layer")."""
    import math

    from jp_qcew_spark.queries.similarity import _qgrid

    if not (0.0 < threshold < 1.0 and 0.0 < recall < 1.0):
        raise ValueError(
            f"target (threshold={threshold}, recall={recall}) must sit "
            "strictly inside (0, 1)"
        )
    rpb = max(
        2,
        math.ceil(
            _qgrid(
                math.log(max(n, 1) / 16.0)
                / math.log(1.0 / _MH_BG_JACCARD),
                1e6,
            )
        ),
    )
    q = _qgrid(threshold**rpb, 1e12)
    if not (0.0 < q < 1.0):
        raise ValueError(
            f"threshold {threshold} at rows_per_band={rpb} quantizes to "
            f"a degenerate band-collision probability {q}"
        )
    b = math.ceil(_qgrid(math.log(1.0 - recall) / math.log(1.0 - q), 1e6))
    if b * rpb > _MH_TGT_HASHES:
        raise ValueError(
            f"targeted MinHash tier needs {b * rpb} hash functions for "
            f"n={n} at (threshold={threshold}, recall={recall}) but the "
            f"oracle enumerates only {_MH_TGT_HASHES} — raise "
            "_MH_TGT_HASHES (both sides derive from it) before running "
            "a corpus this large"
        )
    return b, rpb


def _mh_cfg_sql(src: str) -> str:
    """SQL twin of ``_lsh_cfg_minhash_target`` as a scalar (bands, rpb)
    SELECT over row source ``src`` (n = count(*) of it) — shared by the
    targeted oracles and the cross-engine parity test so the twin
    cannot drift. Same half-up quantization grids, same expression
    shapes; the budget guard lives Python-side (the oracle's fixed
    range enumeration is why the Python cfg raises)."""
    return f"""SELECT
    CAST(ceil(floor(ln(1.0 - {_MH_TGT_RECALL})
                    / ln(1.0 - floor(pow({_MH_TGT_JACCARD}, rpb) * 1e12
                                     + 0.5) / 1e12)
                    * 1e6 + 0.5) / 1e6) AS INT) AS bands,
    rpb
  FROM (SELECT GREATEST(2, CAST(ceil(floor(ln(count(*) / 16.0)
                                           / ln(1.0 / {_MH_BG_JACCARD})
                                           * 1e6 + 0.5) / 1e6) AS INT))
          AS rpb
        FROM {src}) t"""


def _aug_docs(
    spark: SparkSession, sf_dir: str, n_raw: int | None = None
) -> DataFrame:
    """The documents corpus plus the two planted near-dup cohorts
    (module comment at ``_DOC_PLANT_MAX``) — the certification fixture
    the targeted generator and its recall eval run on. Refuses to build
    when corpus doc_ids could collide with the planted offsets (the
    ``_aug_vecs`` guard, ADVICE r10). Callers that already read the
    footer count pass it via ``n_raw`` so the fixture costs no second
    read (and no second fallback SCAN on non-footer-readable layouts)."""
    from jp_qcew_spark.functions.text import tokens
    from jp_qcew_spark.io import metadata_row_count

    if n_raw is None:
        n_raw = metadata_row_count(spark, sf_dir, "documents")
    if n_raw >= min(_DOC_PLANT_OFFS):
        raise ValueError(
            f"planted-cohort id offsets start at {min(_DOC_PLANT_OFFS)} "
            f"but the corpus has {n_raw} rows — planted doc_ids would "
            "collide with real ones; raise _DOC_PLANT_OFFS (both "
            "engines derive from them) or certify on a slice"
        )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = (
        docs.filter(F.col("doc_id") < _DOC_PLANT_MAX)
        .select("doc_id", "text", tokens(F.col("text")).alias("tk"))
        .withColumn("m", F.size("tk"))
        .filter(F.col("m") >= _DOC_PLANT_TOKENS)
    )
    appended = base.select(
        (F.col("doc_id") + F.lit(_DOC_PLANT_OFFS[0])).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqa zzqb")).alias("text"),
    )
    # p = m - floor((m-2)/6) prefix tokens: (m-2)/6.0 is the same IEEE
    # division on both engines, floor the same op — p is deterministic
    prefix = base.select(
        (F.col("doc_id") + F.lit(_DOC_PLANT_OFFS[1])).alias("doc_id"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("tk"),
                F.lit(1),
                (
                    F.col("m")
                    - F.floor((F.col("m") - F.lit(2)) / F.lit(6.0))
                ).cast("int"),
            ),
        ).alias("text"),
    )
    return docs.unionByName(appended).unionByName(prefix)


# Shared SQL fixture: aug(doc_id, text) = corpus + planted cohorts with
# the same token arithmetic, plus the shingle/signature/banding chain
# under the derived config. The signature is derived in ROW form
# (doc_id, i, mh) under a fixed range(0, _MH_TGT_HASHES) enumeration
# filtered by the cfg scalar — the portable-subset device — and band
# keys are md5(string_agg(mh ORDER BY i)) per (doc, band), which is
# exactly the Spark side's md5(concat(mh_lo..mh_hi)).
_MH_TGT_CTES = f"""plantable AS (
  SELECT doc_id, text, tk, len(tk) AS m
  FROM (SELECT doc_id, text,
               regexp_split_to_array(trim(text), '\\s+') AS tk
        FROM documents)
  WHERE doc_id < {_DOC_PLANT_MAX} AND len(tk) >= {_DOC_PLANT_TOKENS}
),
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DOC_PLANT_OFFS[0]} AS doc_id,
         text || ' zzqa zzqb' AS text
  FROM plantable
  UNION ALL
  SELECT doc_id + {_DOC_PLANT_OFFS[1]} AS doc_id,
         array_to_string(
           tk[1 : CAST(m - floor((m - 2) / 6.0) AS INT)], ' ') AS text
  FROM plantable
),
cfg AS (
  {_mh_cfg_sql("documents")}
),
sh AS (
{_SH_SQL.replace("FROM documents", "FROM aug")}
),
nonempty AS (SELECT * FROM sh WHERE len(shset) > 0),
exsh AS (SELECT doc_id, unnest(shset) AS s FROM nonempty),
sig AS (
  SELECT e.doc_id, h.i, min(md5(h.i || ':' || e.s)) AS mh
  FROM exsh e
  JOIN (SELECT i FROM range(0, {_MH_TGT_HASHES}) t(i)) h
    ON h.i < (SELECT bands * rpb FROM cfg)
  GROUP BY e.doc_id, h.i
),
banded AS (
  SELECT doc_id, CAST(i // cfg.rpb AS INT) AS band_idx,
         md5(string_agg(mh, '' ORDER BY i)) AS band_key
  FROM sig CROSS JOIN cfg
  GROUP BY doc_id, i // cfg.rpb
),
{_MH_CAND_SQL}"""


def _mh_target_banding(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int, int]:
    """(ex, cand, bands, rpb) of the targeted tier: the exploded
    shingles of the augmented corpus and their DISTINCT same-band pairs
    (``_minhash_cand``, scope-cached) under the (bands, rows_per_band)
    derived from the target. n is read once from the parquet footers and
    threaded to the fixture, so the tier runs no pre-query job."""
    n = metadata_row_count(spark, sf_dir, "documents")
    bands, rpb = _lsh_cfg_minhash_target(n)
    ex = cache_parallel(
        D.exploded_shingles(
            widen_scan(_aug_docs(spark, sf_dir, n_raw=n)),
            "doc_id",
            "text",
        )
    )
    _sig, cand = _minhash_cand(ex, bands, rpb)
    return ex, track_cache(cand), bands, rpb


def q_dedup_minhash_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-TARGETED text near-dup pass: every document pair at
    Jaccard >= ``_MH_TGT_JACCARD`` (0.8) is caught with probability >=
    ``_MH_TGT_RECALL`` (0.9) BY CONSTRUCTION — (bands, rows_per_band)
    are derived from the target (``_lsh_cfg_minhash_target``) instead
    of the fixed family's pinned 12/3/4, which is what a production
    crawl-dedup pass needs: the threshold and the recall floor are the
    contract, the banding is an implementation detail. Runs on the
    corpus + the planted near-dup cohorts (``_aug_docs``) because the
    synthetic corpus has almost no >=0.8 pairs to certify against;
    swap the raw corpus in via ``_mh_target_banding``'s fixture for
    production use. The derived config is certified by
    ``dedup_minhash_recall_eval``, which emits both scalars as hashed
    columns.

    Plan shape is the ``dedup_minhash_lsh`` classic: signature is a
    map-side-partial min-agg over exploded shingles, the band-bucket
    self-join shuffles on (band_idx, band_key) so only same-bucket docs
    meet, survivors are Jaccard-verified over the semi-join-narrowed
    shingle sets, and NO broadcast hint sits on any corpus-growing side
    (``_minhash_cand``, shared with the fixed family)."""
    ex, cand, _bands, _rpb = _mh_target_banding(spark, sf_dir)
    return (
        _jaccard_verify(ex, cand)
        .select(
            "doc_a", "doc_b", F.round(F.col("jac"), 6).alias("jac")
        )
        .filter(F.col("jac") >= _MH_TGT_JACCARD)
        .transform(order_result, "doc_a", "doc_b")
    )


ORACLE_DEDUP_MINHASH_TARGET = f"""
WITH {_MH_TGT_CTES}
SELECT doc_a, doc_b, round({_jaccard_sql("x", "y")}, 6) AS jac
FROM cand
JOIN nonempty x ON x.doc_id = doc_a
JOIN nonempty y ON y.doc_id = doc_b
WHERE round({_jaccard_sql("x", "y")}, 6) >= {_MH_TGT_JACCARD}
ORDER BY doc_a, doc_b
"""

QUERIES["dedup_minhash_target"] = q_dedup_minhash_target
ORACLE["dedup_minhash_target"] = ORACLE_DEDUP_MINHASH_TARGET


def q_dedup_minhash_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binned pair-recall of the TARGETED text generator against exact
    shingle-Jaccard ground truth over the seeded corpus — the
    certification that the derived (bands, rows_per_band) delivers the
    contract: recall in the >=0.8-Jaccard bin must clear 0.9 (pinned by
    test at 3 scales). Both derived scalars ride along as hashed OUTPUT
    columns, so the driver certifies that both engines derived the SAME
    config from the same (threshold, recall) target — the derivation
    itself is under the hash, not just its effects
    (``dedup_recall_target_eval``'s device on the text tier).

    Scale shape: ground truth is ``_overlap`` of the BOUNDED eval slice
    (doc_id < ``_DOC_EVAL_SLICE``, broadcast — the one hint, |slice| x n
    LINEAR, never n² all-pairs) against the corpus; hits come from the
    generator's CANDIDATE set (pre-verify), which is what the
    1-(1-s^r)^b math predicts per bin; ``_binned_recall`` rolls up 4
    bins. The planted cohorts give the >=0.8 bin real members."""
    ex, cand, bands, rpb = _mh_target_banding(spark, sf_dir)
    exs = ex.filter(F.col("doc_id") < _DOC_EVAL_SLICE)
    truth = (
        _overlap(F.broadcast(exs), ex)
        .select("doc_a", "doc_b", _jaccard().alias("jac"))
        .filter(F.col("jac") >= 0.2)
    )
    hits = {"hit": cand.filter(F.col("doc_a") < _DOC_EVAL_SLICE)}
    return (
        _binned_recall(truth, "jac", _MH_EVAL_EDGES, hits, ["doc_a", "doc_b"])
        .withColumn("bands_used", F.lit(int(bands)).cast("long"))
        .withColumn("rpb_used", F.lit(int(rpb)).cast("long"))
        .orderBy("sim_band")
    )


ORACLE_DEDUP_MINHASH_RECALL = f"""
WITH {_MH_TGT_CTES},
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_jaccard_sql("a", "b")} AS jac
  FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
  WHERE a.doc_id < {_DOC_EVAL_SLICE} AND {_jaccard_sql("a", "b")} >= 0.2
),
{_binned_recall_sql("rec", "truth", "jac", _MH_EVAL_EDGES, {"hit": "cand"},
                    ["doc_a", "doc_b"])}
SELECT rec.*,
       CAST((SELECT bands FROM cfg) AS BIGINT) AS bands_used,
       CAST((SELECT rpb FROM cfg) AS BIGINT) AS rpb_used
FROM rec ORDER BY sim_band
"""

QUERIES["dedup_minhash_recall_eval"] = q_dedup_minhash_recall_eval
ORACLE["dedup_minhash_recall_eval"] = ORACLE_DEDUP_MINHASH_RECALL
