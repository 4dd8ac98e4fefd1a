"""Similarity-search queries over ``embeddings`` (north-star tier).

``knn_bruteforce`` is the exact baseline; ``knn_signlsh`` is the bucketed
scale path; ``knn_classify`` composes top-k with majority-vote labeling.

LSH width policy: EVERY sign-LSH bucketing in this module
derives its width from the corpus (expected band-bucket occupancy ~16;
fixed width is quadratic candidate growth for self-joins and linear
per-query candidate growth for serving). Two tiers:

- corpus SELF-joins (``dedup_embedding_cos``, ``knn_graph_mutual`` and its
  consumers) use the MULTI-BAND generator ``_banded_cand`` / ``_lsh_cfg``:
  b bands × r disjoint coordinate planes, r clamped [4, 32],
  b = min(4, 64//r) — the occupancy rule holds to ~69 B vectors and the
  bands buy back the recall the wider key costs (1-(1-p^r)^b);
- serving-side single-band primitives (``knn_signlsh``, ``knn_multiprobe``)
  and ``semdedup_lsh``'s window partitioning keep ``_sign_buckets``
  (``_lsh_bits``, clamped [4, 16]); ``knn_lsh_banded`` is the banded
  serving path.

Every candidate self-join goes through ``ext.dedup.band_pairs`` (twin
``queries.dedup._band_pairs_sql``) and every oracle cosine through
``_cos_sql``.

Recall is measured, not assumed: ``knn_recall_eval`` scores both the
single-band and the banded index against the brute-force ground truth.
Oracles derive the identical config with a scalar subquery over the same
table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.ext import similarity as S
from jp_qcew_spark.ext.dedup import band_pairs
from jp_qcew_spark.io import (
    cache_parallel,
    current_scope,
    load_table,
    metadata_row_count,
    order_result,
    track_cache,
    track_local_checkpoint,
    widen_scan,
)
from jp_qcew_spark.io import reset_trained_artifacts as reset_trained_memo
from jp_qcew_spark.io import trained_artifact as _trained
from jp_qcew_spark.queries.dedup import (
    _band_pairs_sql,
    _binned_recall,
    _binned_recall_sql,
    _components_sql,
)

_N_QUERIES = 10


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between two DOUBLE[] expressions, rounded to 6 dp:
    the twin of ``ext.similarity.cosine``, and the one cosine spelling of
    every oracle here."""
    return (
        f"round(list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"
        f" / (sqrt(list_sum(list_transform(list_zip({a}, {a}), x -> x[1] * x[2])))"
        f" * sqrt(list_sum(list_transform(list_zip({b}, {b}), x -> x[1] * x[2])))), 6)"
    )


def _sign_sql(n: int) -> str:
    """DuckDB '1'/'0' string of the signs of the first ``n`` coordinates
    of ``v`` (the ``ext.similarity.sign_bucket`` twin)."""
    return " || ".join(
        f"CASE WHEN v[{i}] >= 0 THEN '1' ELSE '0' END" for i in range(1, n + 1)
    )


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding rows with the float32 vector widened to double. The scan
    is widened (io.widen_scan): every consumer does dense per-row vector
    math (dot products, LSH sign bits, centroid distances), and a one-file
    embeddings corpus scans as 1-2 splits — measured at sf1:
    knn_bruteforce 5.2 → 1.6 s, dedup_embedding_cos 9.4 → 2.9 s. No-op on
    many-file corpora."""
    e = widen_scan(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        )
    )
    return e.select(
        "vec_id", "label", S.as_double(F.col("embedding")).alias("v")
    )


# Trained-artifact promotion (round 14, VERDICT r13 #4): the PQ/IVF family
# — two served tiers (knn_pq_adc, knn_ivfpq) plus the evals, curves and the
# rerank sweep — composes the SAME four trained artifacts: the 64-row
# OPQ-lite subspace map, the M×K served PQ codebook, the K-row IVF centroid
# set, and the 30-row exact-L2 ground-truth top-3.  Before round 14 every
# family member retrained them from scratch (~39 s ≈ 14% of the bench
# suite).  The promotion machinery (build once per process, collect the
# bounded frame, re-emit as a LocalRelation) is io.trained_artifact
# (imported above as ``_trained``); see the design note there.
# ``reset_trained_memo`` is the testing hook plan tests use to pin the
# COLD (training) build.


# --------------------------------------------------------------------------
# Top-k and recall builders. The ANN family's top-k cuts and recall@k
# evals go through these; each Spark builder has a DuckDB twin that emits
# the same computation as a CTE.
# --------------------------------------------------------------------------


def _topk(
    df: DataFrame,
    keys: list[str],
    order: Column,
    k: int,
    rank: str = "rk",
    tie: str = "neighbor_id",
    bigint: bool = False,
) -> DataFrame:
    """The top ``k`` rows of ``df`` per ``keys`` under ``order``, ties to
    the smaller ``tie`` id, numbered 1..k in column ``rank``. ``bigint``
    emits the rank as BIGINT (a served result column) and cuts on the
    cast; an internal cut keeps the int row number."""
    rn = F.row_number().over(
        Window.partitionBy(*keys).orderBy(order, F.col(tie).asc())
    )
    return df.withColumn(rank, rn.cast("long") if bigint else rn).filter(
        F.col(rank) <= k
    )


def _topk_sql(
    name: str,
    src: str,
    keys: list[str],
    order: str,
    k: int,
    cols: str = "query_id, neighbor_id",
    rank: str = "rk",
    tie: str = "neighbor_id",
) -> str:
    """CTE ``name(cols)``: the ``_topk`` cut of ``src`` in DuckDB."""
    return f"""{name} AS (
  SELECT {cols} FROM (
    SELECT *, row_number() OVER (
        PARTITION BY {", ".join(keys)} ORDER BY {order}, {tie} ASC) AS {rank}
    FROM {src}) WHERE {rank} <= {k})"""


def _recall(
    truth: DataFrame,
    approx: DataFrame,
    frame: DataFrame | None = None,
    keys: Sequence[str] = (),
    name: str = "recall_at3",
    per: int | None = None,
    digits: int = 6,
    hits: str | None = None,
) -> DataFrame:
    """Recall of an approximate top-k against a truth top-k, per group.

    Hits are the (query_id, neighbor_id) rows the two share, counted per
    ``keys`` and left-joined onto ``frame`` (one row per group), so a
    group without hits reads 0. With no keys the one global count is
    cross-joined onto ``frame``, or stands alone as one row when there
    is no frame. The ratio divides by |truth| (or by ``per``, the
    per-query evals' k) and rounds to ``digits``. Returns ``frame``'s
    columns, the hit count as BIGINT ``hits`` when named, and the ratio
    as ``name``."""
    h = (
        approx.join(truth, ["query_id", "neighbor_id"])
        .groupBy(*keys)
        .agg(F.count("*").alias("h"))
    )
    if keys:
        out = frame.join(h, list(keys), "left")
    else:
        out = h if frame is None else frame.crossJoin(F.broadcast(h))
    n, den = F.coalesce(F.col("h"), F.lit(0)), per
    if per is None:
        tot = truth.agg(F.count("*").alias("ex_total"))
        out, den = out.crossJoin(F.broadcast(tot)), F.col("ex_total")
    return out.select(
        *(frame.columns if frame is not None else []),
        *([n.cast("long").alias(hits)] if hits else []),
        F.round(n / den, digits).alias(name),
    )


def _recall_sql(
    name: str,
    truth: str,
    approx: str,
    frame: str,
    keys: Sequence[str] = (),
    col: str = "recall_at3",
    per: int | None = None,
    digits: int = 6,
    hits: str | None = None,
) -> str:
    """CTEs ``{name}_h`` and ``name``: ``_recall`` in DuckDB; ``name``
    carries every column of ``frame`` plus ``hits`` and ``col``."""
    sel = "".join(f"a.{k}, " for k in keys)
    group = f"\n  GROUP BY {', '.join(f'a.{k}' for k in keys)}" if keys else ""
    on = " AND ".join(f"h.{k} = f.{k}" for k in keys)
    join = (
        f"LEFT JOIN {name}_h h ON {on}" if keys else f"CROSS JOIN {name}_h h"
    )
    n = "COALESCE(h.h, 0)"
    if per is None:
        join += f"\n  CROSS JOIN (SELECT count(*) AS ex_total FROM {truth}) x"
    cnt = f"CAST({n} AS BIGINT) AS {hits}, " if hits else ""
    return f"""{name}_h AS (
  SELECT {sel}count(*) AS h
  FROM {approx} a JOIN {truth} e
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id{group}),
{name} AS (
  SELECT f.*, {cnt}round({n} / {per or "x.ex_total"}, {digits}) AS {col}
  FROM {frame} f
  {join})"""


def _truth(vecs: DataFrame, score: Column, order: Column) -> DataFrame:
    """Exact top-3 of the query slice over ``vecs(vec_id, v)``, self
    excluded: ``score`` is a named expression of the query vector ``qv``
    and the candidate ``v``, ranked by ``order``. The query slice is
    broadcast; the corpus side is one linear pass."""
    q = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .join(vecs, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), score)
    )
    return _topk(scored, ["query_id"], order, 3)


def _truth_sql(score: str, desc: bool, src: str = "vecs") -> str:
    """CTE ``exact3(query_id, neighbor_id)``: ``_truth`` in DuckDB, with
    ``score`` an expression over ``q.v`` and ``c.v``."""
    scored = f"""(
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {score} AS s
    FROM {src} q JOIN {src} c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {_N_QUERIES})"""
    return _topk_sql(
        "exact3", scored, ["query_id"], f"s {'DESC' if desc else 'ASC'}", 3
    )


def _widen(
    df: DataFrame, col: str, values: tuple[int, ...], rank: str
) -> DataFrame:
    """One copy of each row per swept ``values`` entry ``col`` >= its
    ``rank``: a row ranked r serves every sweep setting from r up, so one
    candidate frame feeds the whole sweep. The value table broadcasts."""
    t = df.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in values])).alias(col)
    )
    return df.join(F.broadcast(t), F.col(rank) <= F.col(col))


def _widen_sql(
    name: str, src: str, col: str, values: tuple[int, ...], rank: str
) -> str:
    """CTE ``name``: ``_widen`` in DuckDB."""
    t = " UNION ALL ".join(f"SELECT {v} AS {col}" for v in values)
    return f"""{name} AS (
  SELECT t.{col}, s.* FROM {src} s JOIN ({t}) t ON s.{rank} <= t.{col})"""


def _scan_frac(col: str, n_corpus: int) -> Column:
    """Scanned pairs over all query × corpus pairs, self excluded: one
    exact-integer IEEE division, so the rounded value cannot diverge
    cross-engine."""
    return F.round(
        F.col(col) / (F.lit(_N_QUERIES) * F.lit(n_corpus - 1)), 6
    ).alias("scan_frac")


def _scan_frac_sql(col: str) -> str:
    """``_scan_frac`` in DuckDB."""
    return (
        f"round({col} / ({_N_QUERIES} * ((SELECT count(*) FROM vecs) - 1)),"
        " 6) AS scan_frac"
    )


def _served_sql(
    src: str, score: str = "score", desc: bool = True, k: int = 3
) -> str:
    """The tail of a served-tier oracle: the top-``k`` of a
    ``src(query_id, neighbor_id, score)`` CTE with its BIGINT ``rank``,
    in result order."""
    return f"""{_topk_sql(
        "ranked", src, ["query_id"], f"{score} {'DESC' if desc else 'ASC'}",
        k, f"query_id, neighbor_id, {score}, rank", rank="rank",
    )}
SELECT * FROM ranked ORDER BY query_id, rank"""


def _knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 10 vectors (self excluded).

    Queries are broadcast; scoring is map-side over the candidate scan; the
    only shuffle is the bounded per-query top-k window.
    """
    vecs = _vecs(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .join(vecs, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.cosine(F.col("qv"), F.col("v")).alias("score"),
        )
    )
    return _topk(
        scored, ["query_id"], F.col("score").desc(), 5, "rank",
        bigint=True,
    )


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_knn_bruteforce`` in result order (the recall evals
    join the unordered rows)."""
    return order_result(_knn_bruteforce(spark, sf_dir), "query_id", "rank")


ORACLE_KNN_BRUTEFORCE = f"""
WITH vecs AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql("q.v", "c.v")} AS score
  FROM q JOIN vecs c ON c.vec_id <> q.query_id
),
{_served_sql("scored", k=5)}
"""


def _sign_buckets(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """(vecs, bits): ``_vecs`` with its single-band ``bucket``, the signs
    of the first ``bits`` coordinates (``sign_bucket``), ``bits`` =
    ``_lsh_bits`` of the footer row count. ``_SIGN_VECS_SQL`` is its
    DuckDB twin."""
    bits = _lsh_bits(metadata_row_count(spark, sf_dir, "embeddings"))
    vecs = _vecs(spark, sf_dir).withColumn(
        "bucket", S.sign_bucket(F.col("v"), bits)
    )
    return vecs, bits


# vecs(vec_id, label, v, bucket) with the width ``nb.bits`` derived by the
# ``_lsh_bits`` rule over the corpus count.
_SIGN_VECS_SQL = f"""raw AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v, {_sign_sql(16)} AS sig
  FROM embeddings
),
nb AS (
  SELECT LEAST(16, GREATEST(4,
           CAST(ceil(log2(count(*) / 16.0)) AS INT))) AS bits
  FROM embeddings
),
vecs AS (
  SELECT vec_id, label, v, substr(sig, 1, (SELECT bits FROM nb)) AS bucket
  FROM raw
)"""


def _knn_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed top-3 neighbors: candidates limited to the query's
    single-band sign bucket (``_sign_buckets``), a bucket join instead of
    the full cross product. The width grows with the corpus, so
    per-query work stays constant; ``knn_recall_eval`` measures the recall
    this costs and ``knn_multiprobe`` buys it back."""
    vecs, _bits = _sign_buckets(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        F.broadcast(q)
        .join(
            vecs,
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.cosine(F.col("qv"), F.col("v")).alias("score"),
        )
    )
    return _topk(
        scored, ["query_id"], F.col("score").desc(), 3, "rank",
        bigint=True,
    )


def q_knn_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_knn_signlsh`` in result order (``knn_recall_eval``
    joins the unordered rows)."""
    return order_result(_knn_signlsh(spark, sf_dir), "query_id", "rank")


ORACLE_KNN_SIGNLSH = f"""
WITH {_SIGN_VECS_SQL},
q AS (SELECT vec_id AS query_id, v, bucket AS qbucket FROM vecs
      WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql("q.v", "c.v")} AS score
  FROM q JOIN vecs c ON c.bucket = q.qbucket AND c.vec_id <> q.query_id
),
{_served_sql("scored")}
"""


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN (k=5) majority-vote label prediction for the query vectors;
    ties broken toward the smaller label."""
    vecs = _vecs(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
    )
    scored = (
        F.broadcast(q)
        .join(vecs, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("nb_label"),
            F.col("vec_id").alias("neighbor_id"),
            S.cosine(F.col("qv"), F.col("v")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    top5 = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )
    votes = top5.groupBy("query_id", "true_label", "nb_label").agg(
        F.count("*").alias("votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("nb_label").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("nb_label").cast("long").alias("predicted_label"),
            "votes",
        )
        .transform(order_result, "query_id")
    )


ORACLE_KNN_CLASSIFY = f"""
WITH vecs AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS true_label, v FROM vecs
      WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.query_id, q.true_label, c.label AS nb_label, c.vec_id AS neighbor_id,
         {_cos_sql("q.v", "c.v")} AS score
  FROM q JOIN vecs c ON c.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
), votes AS (
  SELECT query_id, true_label, nb_label, count(*) AS votes
  FROM ranked WHERE rank <= 5 GROUP BY 1, 2, 3
), winner AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY votes DESC, nb_label ASC) AS rn
  FROM votes
)
SELECT query_id, CAST(true_label AS BIGINT) AS true_label,
       CAST(nb_label AS BIGINT) AS predicted_label, votes
FROM winner WHERE rn = 1 ORDER BY query_id
"""


_IVF_K = 10      # coarse cells (seeds = vectors 0..K-1)
_IVF_ITERS = 2   # spherical-k-means Lloyd supersteps


def _ivf_assign(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-cell assignment by 6-dp-rounded cosine against the bounded
    (broadcast) centroid set, ties to the smaller cell id — the same tie
    discipline the DuckDB CTE replays."""
    wcell = Window.partitionBy("vec_id").orderBy(
        F.col("cscore").desc(), F.col("clabel").asc()
    )
    return (
        vecs.join(F.broadcast(cent))
        .select(
            "vec_id",
            "v",
            "clabel",
            S.cosine(F.col("v"), F.col("cv")).alias("cscore"),
        )
        .withColumn("rn", F.row_number().over(wcell))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", F.col("clabel").alias("cell"))
    )


def _ivf_cells(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """TRAINED IVF coarse quantizer shared by ``knn_ivf``,
    ``knn_ivf_recall_curve`` and ``knn_ivfpq``: spherical k-means with
    ``_IVF_K`` cells — deterministic seeds (vectors 0..K-1, rounded
    6 dp), ``_IVF_ITERS`` Lloyd supersteps of cosine assignment (ties to
    the smaller cell id) + per-dimension mean recompute rounded 6 dp —
    so the DuckDB oracle replays the identical iterations as chained
    CTEs (``_ivf_train_sql``; the pagerank/kmeans superstep pattern).

    Round 12 replaced the label-mean demo centroids: the corpus is
    label-UNSTRUCTURED (within-label cosine ≈ across-label ≈ 0), so
    label means collapsed near the origin and ``knn_ivf_recall_curve``
    priced it at recall@3 = 0.47/0.60/0.73 for nprobe 1/2/4; trained
    cells measure 0.97/0.97/1.00 at the SAME scan fractions (sf0.1).

    Scale posture: every superstep is one bounded (K-row) broadcast +
    one corpus pass; the centroid chain is lazily scope-cached (no
    pre-query jobs — the footer-count discipline, VERDICT r10 #6, holds:
    nothing here calls count()). ``assigned`` is consumed at least twice
    by every caller, so it is scope-cached too (VERDICT r5 #3). K is
    FIXED at 10 so the measured curve's scan fractions stay comparable
    round-over-round; with fixed K the per-query cell scan grows
    linearly with the corpus (the curve's constant scan_frac says
    exactly that), so a serving deployment scales nlist ~ √n (the FAISS
    rule) — ``knn_ivf_recall_curve`` is the harness that prices that
    retune: more cells shift the whole curve toward lower scan
    fractions at some recall cost per probe.

    Round 14: the trained centroid set (K rows) is PROMOTED
    (``_trained``) — one training run per process serves knn_ivf, both
    curves, knn_ivfpq, the rerank and the residual eval; the corpus
    assignment pass (one broadcast argmax per query scope) is rebuilt
    per query because it is corpus-sized."""
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    cent = _trained(
        spark, sf_dir, "ivf_cent", lambda: _ivf_train(vecs, _IVF_K)[0]
    )
    return cent, track_cache(_ivf_assign(vecs, cent))


def _ivf_train(
    vecs: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    """The k-parameterized training loop behind ``_ivf_cells`` (also
    swept by ``knn_ivf_nlist_sweep``): seeds = vectors 0..k-1,
    ``_IVF_ITERS`` spherical Lloyd supersteps, each superstep
    scope-cached (bounded: k rows). Cross-engine float caveat: the
    per-dimension ``F.avg`` shares the partition-order-vs-sequential
    summation risk documented on ``_pq_codebook`` — here the mean IS
    over the full corpus, so the evidence is the per-round 3-scale
    bare-session hash parity of every consumer; the 6-dp rounding has
    absorbed the reassociation ulps at every tested scale/partitioning."""
    cent = vecs.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("long").alias("clabel"),
        F.transform("v", lambda x: F.round(x, 6)).alias("cv"),
    )
    for _ in range(_IVF_ITERS):
        assign = _ivf_assign(vecs, cent)
        cent = track_cache(
            assign.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("ax"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "ax"))),
                    lambda s: F.round(s["ax"], 6),
                ).alias("cv")
            )
            .select(F.col("cell").alias("clabel"), "cv")
        )
    return cent, track_cache(_ivf_assign(vecs, cent))


def _ivf_train_sql(
    vecs: str = "vecs",
    k: int = _IVF_K,
    prefix: str = "ivf",
    cent: str = "cent",
    assigned: str = "assigned",
) -> str:
    """CTE chain (appended after a ``vecs(vec_id, v)`` CTE) that replays
    ``_ivf_train`` exactly: seeds ``{prefix}_c0``, supersteps
    ``{prefix}_a{{i}}`` / ``{prefix}_c{{i}}``, then ``{cent}(clabel, cv)``
    and ``{assigned}(vec_id, v, cell)``. Defaults emit the k=``_IVF_K``
    chain shared by the knn_ivf / curve / ivfpq oracles; the nlist sweep
    emits one prefixed chain per k."""
    parts = [
        f"""{prefix}_c0 AS (
  SELECT CAST(vec_id AS BIGINT) AS clabel,
         list_transform(v, x -> round(x, 6)) AS cv
  FROM {vecs} WHERE vec_id < {k})"""
    ]
    prev = f"{prefix}_c0"
    for i in range(1, _IVF_ITERS + 1):
        parts.append(
            f"""{prefix}_s{i} AS (
  SELECT t.vec_id, t.v, c.clabel, {_cos_sql("t.v", "c.cv")} AS cscore
  FROM {vecs} t CROSS JOIN {prev} c),
{prefix}_a{i} AS (
  SELECT vec_id, v, clabel AS cell FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cscore DESC, clabel ASC) AS rn
    FROM {prefix}_s{i}) WHERE rn = 1),
{prefix}_c{i} AS (
  SELECT cell AS clabel, array_agg(round(ax, 6) ORDER BY pos) AS cv FROM (
    SELECT cell, pos, avg(x) AS ax FROM (
      SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos
      FROM {prefix}_a{i}) GROUP BY 1, 2) GROUP BY 1)"""
        )
        prev = f"{prefix}_c{i}"
    parts.append(
        f"""{cent} AS (SELECT clabel, cv FROM {prev}),
{prefix}_sf AS (
  SELECT t.vec_id, t.v, c.clabel, {_cos_sql("t.v", "c.cv")} AS cscore
  FROM {vecs} t CROSS JOIN {cent} c),
{assigned} AS (
  SELECT vec_id, v, clabel AS cell FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cscore DESC, clabel ASC) AS rn
    FROM {prefix}_sf) WHERE rn = 1)"""
    )
    return ",\n".join(parts)


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a coarse quantizer partitions vectors into cells; each
    query searches only its own cell (nprobe=1) — the inverted-file scale
    path (cell assignment is a narrow map-side pass; the search join is keyed
    by cell, never all-pairs).

    The quantizer is deterministic (``_ivf_cells``) so the DuckDB oracle
    re-derives the exact same cells. The nprobe>1 recall/cost trade of
    the same index is measured by ``knn_ivf_recall_curve``.
    """
    _cent, assigned = _ivf_cells(spark, sf_dir)
    q = assigned.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("cell").alias("qcell"),
    )
    scored = (
        F.broadcast(q)
        .join(
            assigned,
            (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.cosine(F.col("qv"), F.col("v")).alias("score"),
        )
    )
    return _topk(
        scored, ["query_id"], F.col("score").desc(), 3, "rank",
        bigint=True,
    ).transform(order_result, "query_id", "rank")


ORACLE_KNN_IVF = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ivf_train_sql()},
q AS (SELECT vec_id AS query_id, v AS qv, cell AS qcell FROM assigned
      WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql("q.qv", "c.v")} AS score
  FROM q JOIN assigned c ON c.cell = q.qcell AND c.vec_id <> q.query_id
),
{_served_sql("scored")}
"""


def _lsh_bits(n: int) -> int:
    """Bucket bits sized to the corpus: ~16 vectors per bucket, clamped to
    [4, 16]. MUST stay formula-identical to the oracle's scalar subquery.

    This is the SINGLE-BAND width, used by the serving-side primitives
    (``knn_signlsh``, ``knn_multiprobe``) and the window-partition sizing
    of ``semdedup_lsh``. Corpus SELF-joins use ``_lsh_cfg`` instead: the
    16-bit clamp saturates at n ≈ 16·2¹⁶ ≈ 1M vectors, past which a
    single band's per-bucket pairs grow quadratically again — the banded
    generator lifts that ceiling."""
    import math

    return min(16, max(4, math.ceil(math.log2(max(n, 1) / 16.0))))


def _lsh_cfg(n: int) -> tuple[int, int]:
    """Multi-band sign-LSH config: (bands, row_bits). Per-band width keeps
    the ``_lsh_bits`` occupancy rule — row_bits = ceil(log2(n/16)), ~16
    vectors per band-bucket — but the clamp lifts 16 → 32: with b bands of
    r DISJOINT coordinate planes each (b·r ≤ 64, the embedding dimension),
    occupancy stays constant to n ≈ 16·2³² ≈ 69 B vectors instead of 1 M.
    Bands trade candidate volume (≤ b× the single-band count, a constant
    factor) back for the recall a wider bucket key costs: P(candidate) =
    1-(1-p^r)^b vs single-band p^r — measured, not assumed, by
    ``knn_recall_eval``. bands = min(4, 64 // row_bits) spends the plane
    budget: 4 bands through r=16, tapering to 2 at r=32. Beyond 64 planes
    the same plumbing takes md5-seeded random hyperplanes in place of
    coordinate signs (one extra dot per plane); the coordinate-plane
    budget, not the plan shape, is what caps this at 69 B.

    MUST stay formula-identical to the oracles' cfg scalar subquery."""
    import math

    row_bits = min(32, max(4, math.ceil(math.log2(max(n, 1) / 16.0))))
    return min(4, 64 // row_bits), row_bits


# The RP oracles' sign strings enumerate exactly this many planes
# (``range(0, N)`` in the weight CTEs) — a test-harness text budget
# (raise the constant on BOTH sides to extend), not an engine limit.
# The cfg functions raise LOUDLY when a corpus would need more planes
# than its oracle enumerates: past the budget the two engines would
# otherwise silently derive different band keys (Spark generating the
# full-width signature, the oracle a truncated one) and the driver's
# hash compare would read as a correctness bug instead of a harness
# ceiling.
_RP_ORACLE_PLANES = 128


def _lsh_cfg_rp(n: int) -> tuple[int, int]:
    """Banded config for the RANDOM-HYPERPLANE tier: identical occupancy
    formula, NO width clamp — the plane supply is unlimited (``rp_bands``
    synthesizes planes from md5), so row_bits tracks log2(n/16)
    indefinitely and the occupancy rule never saturates. Bands fixed at
    4 (the recall multiplier; plane cost is one batched 4·r-plane int64
    matmul per Arrow batch, map-side). The ORACLE mirrors this with a
    ``_RP_ORACLE_PLANES``-plane sign string; needing more raises here
    rather than silently hash-diverging."""
    import math

    bits = max(4, math.ceil(math.log2(max(n, 1) / 16.0)))
    if 4 * bits > _RP_ORACLE_PLANES:
        raise ValueError(
            f"RP tier needs {4 * bits} planes for n={n} but the oracle "
            f"enumerates only {_RP_ORACLE_PLANES} — raise "
            "_RP_ORACLE_PLANES (both the constant and the oracle CTE "
            "derive from it) before running a corpus this large"
        )
    return 4, bits


def _banded_cand(
    spark: SparkSession,
    sf_dir: str,
    cfg=None,
    keyfn=None,
    vecs=None,
    n=None,
) -> tuple[DataFrame, DataFrame]:
    """Shared banded candidate generator for the corpus self-join family:
    returns (vecs, cand) where ``vecs`` is the scope-cached vector frame
    (vec_id, v, nrm) and ``cand`` the DISTINCT same-band pairs
    (id_a < id_b, ``ext.dedup.band_pairs`` over the posexploded band
    keys: a keyed shuffle join, both sides corpus-sized, NO broadcast),
    deduped BEFORE any scoring so a pair colliding in several bands is
    scored once.
    Candidate volume is ≤ bands × (occupancy-bounded single-band count),
    i.e. still ~linear in n; the vectors never ride through the banded
    join — scoring joins them back by vec_id against the cached frame.

    ``cfg``/``keyfn`` select the plane tier: coordinate signs
    (``_lsh_cfg``/``sign_bands``, the default — free planes, budget 64)
    or md5 random hyperplanes (``_lsh_cfg_rp``/``rp_bands`` — unlimited
    planes, one Arrow-batched int64 matmul over quantized vectors).

    ``vecs``/``n`` override the corpus: a (vec_id, v) frame plus ITS row
    count (callers know it arithmetically — e.g. the seeded recall
    fixture is corpus + 2·``_PLANT_N`` rows — so no extra count job).
    Default: the ``embeddings`` table, counted from parquet metadata."""
    cfg = cfg or _lsh_cfg
    keyfn = keyfn or S.sign_bands
    if n is None:
        n = metadata_row_count(spark, sf_dir, "embeddings")
    bands, bits = cfg(n)
    base = vecs if vecs is not None else _vecs(spark, sf_dir)
    vecs = track_cache(
        base.select(
            "vec_id",
            "v",
            F.sqrt(S.dot(F.col("v"), F.col("v"))).alias("nrm"),
        )
    )
    # scope-cached so the band keys are computed ONCE: Spark does not
    # reuse the exchange across the self-join's two sides, and for the RP
    # tier each run is a real Arrow matmul pass, not a free projection.
    banded = track_cache(
        vecs.select(
            "vec_id",
            F.posexplode(keyfn(F.col("v"), bands, bits)).alias(
                "band", "bkt"
            ),
        )
    )
    return vecs, band_pairs(banded, "vec_id", "id_a", "id_b")


def _scored_pairs(vecs: DataFrame, cand: DataFrame, out: str) -> DataFrame:
    """Score each candidate pair once: join the pair ids back to the cached
    vector frame on each side (keyed equi-joins — ``cand`` is honest-corpus
    small but adversarially unbounded, so no broadcast hint; AQE converts
    when it is small) and fold the cosine with the precomputed norms —
    sqrt(da)·sqrt(db) is the oracle's exact arithmetic, so values are
    bit-identical."""
    return (
        cand.join(vecs.alias("va"), F.col("id_a") == F.col("va.vec_id"))
        .join(vecs.alias("vb"), F.col("id_b") == F.col("vb.vec_id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                S.dot(F.col("va.v"), F.col("vb.v"))
                / (F.col("va.nrm") * F.col("vb.nrm")),
                6,
            ).alias(out),
        )
    )


def _dedup_embedding_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family, north-star tier):
    candidates from a MULTI-BAND sign-LSH self-join (a pair is scored iff it
    collides in ≥1 band), verified at cosine ≥ 0.3.

    Candidates come from ``_banded_cand`` under ``_lsh_cfg`` (the oracle
    re-derives the config by scalar subquery): per-band width keeps
    expected band-bucket occupancy ~16 up to ~69 B vectors, and the bands
    buy back the recall the wider key costs, P(candidate) = 1-(1-p^r)^b
    (measured by ``dedup_recall_eval``). Candidates are ≤ bands× the
    single-band volume, deduped before the verify joins so each surviving
    pair folds one cosine."""
    vecs, cand = _banded_cand(spark, sf_dir)
    return (
        _scored_pairs(vecs, cand, "cos_sim")
        .filter(F.col("cos_sim") >= 0.3)
    )


def q_dedup_embedding_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_dedup_embedding_cos`` in result order (``dedup_recall_eval``
    joins the unordered rows)."""
    return order_result(_dedup_embedding_cos(spark, sf_dir), "id_a", "id_b")


# CTE chain ending in cand(id_a, id_b), the oracle twin of _banded_cand:
# cfg derives (bits, bands) from the corpus count exactly as _lsh_cfg;
# band k of a vector is substr(sig, k*bits+1, bits) over the 64-char
# coordinate-sign string; the fixed range(0, 4) × "k < bands" filter keeps
# the band fan-out in the portable subset (bands ≤ 4 by construction).
_VEC_CAND_SQL = _band_pairs_sql("banded", "vec_id", "id_a", "id_b")
_BANDED_CAND_CTES = f"""raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {_sign_sql(64)} AS sig FROM embeddings
),
cfg AS (
  SELECT bits, LEAST(4, 64 // bits) AS bands FROM (
    SELECT LEAST(32, GREATEST(4,
             CAST(ceil(log2(count(*) / 16.0)) AS INT))) AS bits
    FROM embeddings)
),
banded AS (
  SELECT vec_id, k AS band_idx,
         substr(sig, CAST(k * (SELECT bits FROM cfg) + 1 AS INT),
                (SELECT bits FROM cfg)) AS band_key
  FROM raw CROSS JOIN range(0, 4) t(k)
  WHERE k < (SELECT bands FROM cfg)
),
{_VEC_CAND_SQL}"""


def _pair_cos_sql(src: str, threshold: float) -> str:
    """(id_a, id_b, cos_sim) of the ``cand`` pairs scored against the
    vectors of ``src`` (vec_id, v), kept at cosine >= ``threshold``, in
    pair order: the oracle tail of ``_scored_pairs`` plus its filter."""
    return f"""SELECT c.id_a, c.id_b, {_cos_sql("a.v", "b.v")} AS cos_sim
FROM cand c
JOIN {src} a ON a.vec_id = c.id_a
JOIN {src} b ON b.vec_id = c.id_b
WHERE {_cos_sql("a.v", "b.v")} >= {threshold}
ORDER BY id_a, id_b"""


ORACLE_DEDUP_EMBEDDING = f"""
WITH {_BANDED_CAND_CTES}
{_pair_cos_sql("raw", 0.3)}
"""


QUERIES = {
    "knn_bruteforce": q_knn_bruteforce,
    "knn_signlsh": q_knn_signlsh,
    "knn_classify": q_knn_classify,
    "knn_ivf": q_knn_ivf,
    "dedup_embedding_cos": q_dedup_embedding_cos,
}

ORACLE = {
    "knn_bruteforce": ORACLE_KNN_BRUTEFORCE,
    "knn_signlsh": ORACLE_KNN_SIGNLSH,
    "knn_classify": ORACLE_KNN_CLASSIFY,
    "knn_ivf": ORACLE_KNN_IVF,
    "dedup_embedding_cos": ORACLE_DEDUP_EMBEDDING,
}


_ZSCORE_SCHEMA = (
    "vec_id long, label long, norm double, znorm double"
)


def _zscore_group(pdf):
    """Grouped-map kernel: per-label z-score of the L2 norm (ddof=1 to match
    SQL stddev_samp). Pure numpy over one label's Arrow batch."""
    import numpy as np

    vecs = np.stack(pdf["embedding"].map(np.asarray, na_action=None).to_list())
    # z-score over the ROUNDED norms (both engines see identical inputs to
    # mean/std, so cross-engine float drift can't straddle the final round)
    norms = np.round(np.sqrt((vecs.astype("float64") ** 2).sum(axis=1)), 6)
    mu = norms.mean()
    sd = norms.std(ddof=1)
    out = pdf[["vec_id"]].copy()
    out["label"] = pdf["label"].astype("int64")
    out["norm"] = norms
    # sd <= 0 (singleton or all-equal group) must yield NULL, not NaN: the
    # SQL oracle's stddev_samp of one row is NULL and x/0 is NULL, and the
    # driver hash distinguishes NaN from null (ADVICE r1)
    out["znorm"] = np.round((norms - mu) / sd, 4) if sd > 0 else None
    return out


def q_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF (``applyInPandas`` — SURVEY §2.J extension
    surface): per-label z-score of embedding norms. The group key is the
    shuffle key; each label's vectors arrive as ONE Arrow batch to numpy —
    the idiomatic shape for per-group model-ish computations (normalizers,
    per-group fits) that built-ins can't express row-wise."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("vec_id", e.label.cast("long").alias("label"), "embedding")
        .groupBy("label")
        .applyInPandas(_zscore_group, _ZSCORE_SCHEMA)
        .transform(order_result, "vec_id")
    )


ORACLE_GROUPED_ZSCORE = """
WITH n AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6)
           AS norm
  FROM embeddings
)
SELECT vec_id, label, norm,
       round((norm - avg(norm) OVER w) / stddev_samp(norm) OVER w, 4) AS znorm
FROM n WINDOW w AS (PARTITION BY label)
ORDER BY vec_id
"""

QUERIES["grouped_zscore"] = q_grouped_zscore
ORACLE["grouped_zscore"] = ORACLE_GROUPED_ZSCORE


def q_knn_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: search restricted to documents that pass the text
    gates (lang = 'en', quality ≥ 0.4) — embeddings ⋈ documents on
    vec_id = doc_id, then exact cosine top-3 over the gated subset. The
    metadata filter prunes the candidate set BEFORE any vector math
    (filter-then-search, the standard hybrid-index pattern); at scale the
    gate is a semi-join against the filtered doc-id set and the exact
    scan swaps for the bucketed ``knn_signlsh`` plan (gate composes with
    any candidate generator)."""
    from jp_qcew_spark.functions.text import lang_guess, quality_score

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        lang_guess(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("quality"),
    )
    ok = d.filter((F.col("lang") == "en") & (F.col("quality") >= 0.4)).select(
        F.col("doc_id").alias("vec_id")
    )
    # no hint on the gate set: it is corpus-proportional (a filtered subset
    # of ALL docs), so a forced broadcast is unbounded at 100 TB — AQE
    # still broadcasts it while it fits; only the query side (bounded by
    # _N_QUERIES) is hinted below
    vecs = _vecs(spark, sf_dir).join(ok, "vec_id", "semi")
    q = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .join(vecs, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.cosine(F.col("qv"), F.col("v")).alias("score"),
        )
    )
    return _topk(
        scored, ["query_id"], F.col("score").desc(), 3, "rank",
        bigint=True,
    ).transform(order_result, "query_id", "rank")


_GATE_SQL = r"""
  SELECT doc_id FROM (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS words,
           len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> x IN ('the','a','and','of','to','in','is','it','that','for')))
             AS en_hits,
           len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> x IN ('el','la','de','que','y','en','los','un','es','por')))
             AS es_hits,
           length(regexp_replace(text, '\s+', '', 'g')) AS nonspace,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
           length(text) AS total
    FROM documents
  )
  WHERE words > 0 AND total > 0
    AND (en_hits > 0 OR es_hits > 0) AND en_hits >= es_hits
    AND round(0.4 * (en_hits * 1.0 / words)
        + 0.3 * least((nonspace * 1.0 / words) / 10.0, 1.0)
        + 0.3 * (alpha * 1.0 / total), 4) >= 0.4
"""

ORACLE_KNN_HYBRID = f"""
WITH ok AS ({_GATE_SQL}),
vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id IN (SELECT doc_id FROM ok)
),
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql("q.v", "c.v")} AS score
  FROM q JOIN vecs c ON c.vec_id <> q.query_id
),
{_served_sql("scored")}
"""

QUERIES["knn_hybrid"] = q_knn_hybrid
ORACLE["knn_hybrid"] = ORACLE_KNN_HYBRID


def q_knn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH top-3: each query probes its own bucket PLUS all
    8 Hamming-distance-1 buckets (one sign bit flipped) — the classic
    recall/latency dial for LSH ANN (bits+1 keyed probes ≪ a full scan, but
    far better recall than single-probe). Probes explode to (query, bucket)
    rows, so candidate generation stays an equi-join on the bucket key.

    Width is the single-band ``_sign_buckets`` width, so per-probe
    candidates stay ~constant as the corpus grows while the probe count
    grows as log2(n/16)+1. The oracle generates the flips with a
    range()-join bounded by the max clamp (16)."""
    vecs, n_planes = _sign_buckets(spark, sf_dir)
    base = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    flips = [F.col("qbucket")] + [
        F.concat(
            F.substring("qbucket", 1, i - 1),
            F.when(F.substring("qbucket", i, 1) == "1", F.lit("0")).otherwise(
                F.lit("1")
            ),
            F.substring("qbucket", i + 1, n_planes - i),
        )
        for i in range(1, n_planes + 1)
    ]
    probes = base.select(
        "query_id", "qv", F.explode(F.array(*flips)).alias("probe_bucket")
    )
    scored = (
        F.broadcast(probes)
        .join(
            vecs,
            (F.col("bucket") == F.col("probe_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.cosine(F.col("qv"), F.col("v")).alias("score"),
        )
    )
    return _topk(
        scored, ["query_id"], F.col("score").desc(), 3, "rank",
        bigint=True,
    ).transform(order_result, "query_id", "rank")


def _oracle_multiprobe() -> str:
    # flips generated relationally (range() bounded by the max clamp, then
    # filtered to the derived width) because the width is a scalar subquery,
    # not a Python literal; i = 0 is the unflipped home bucket.
    return f"""
WITH {_SIGN_VECS_SQL},
base AS (
  SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM vecs
  WHERE vec_id < {_N_QUERIES}
),
probes AS (
  SELECT query_id, qv,
         CASE WHEN i = 0 THEN qbucket
              ELSE substr(qbucket, 1, i - 1)
                   || (CASE substr(qbucket, i, 1)
                         WHEN '1' THEN '0' ELSE '1' END)
                   || substr(qbucket, i + 1, (SELECT bits FROM nb) - i)
         END AS probe_bucket
  FROM base CROSS JOIN range(0, 17) t(i)
  WHERE i <= (SELECT bits FROM nb)
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {_cos_sql("p.qv", "c.v")} AS score
  FROM probes p JOIN vecs c
    ON c.bucket = p.probe_bucket AND c.vec_id <> p.query_id
),
{_served_sql("scored")}
"""


QUERIES["knn_multiprobe"] = q_knn_multiprobe
ORACLE["knn_multiprobe"] = _oracle_multiprobe()


# Executors must never need this package on their import path: the driver can
# run from any cwd (the round driver does), and functions defined here cross
# the JVM->Python-worker boundary. Pickle-by-value makes every shipped
# closure self-contained, so workers only need pyspark/pandas/numpy.
import sys as _sys  # noqa: E402

from pyspark import cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


# --------------------------------------------------------------------------
# udf_vector_norm — Arrow-vectorized scalar pandas UDF
# --------------------------------------------------------------------------


def q_udf_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms of the embedding column via a SCALAR pandas UDF — the third
    leg of the UDF taxonomy (scalar pandas_udf here, grouped-map
    applyInPandas in grouped_zscore, mapInPandas in mm_decode_features;
    SURVEY §2.J).  The batch arrives as one Arrow chunk, np.stack turns it
    into a (batch, dim) float64 matrix, and the norm is one vectorized BLAS
    pass — no per-row Python.  The oracle recomputes the norm with DuckDB
    list lambdas; agreement at round(6) pins the Arrow float32→float64
    widening as lossless.

    Scale: scalar pandas UDFs pipeline per-batch inside the stage (no
    shuffle, no grouping requirement — unlike applyInPandas there is no
    skew surface at all); the final per-label agg is JVM-side."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _l2(v):
        m = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series(np.sqrt(np.einsum("ij,ij->i", m, m)))

    # real objects, not strings: `from __future__ import annotations` would
    # stringify inline hints and pyspark can't resolve them in local scope
    _l2.__annotations__ = {"v": pd.Series, "return": pd.Series}
    l2norm = pandas_udf(_l2, "double")

    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", l2norm(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
        .transform(order_result, "label")
    )


ORACLE_UDF_VECTOR_NORM = """
WITH norms AS (
  SELECT label,
         sqrt(list_aggregate(
           list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           'sum')) AS nrm
  FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n,
       round(avg(nrm), 6) AS avg_norm,
       round(max(nrm), 6) AS max_norm
FROM norms GROUP BY label ORDER BY label
"""

QUERIES["udf_vector_norm"] = q_udf_vector_norm
ORACLE["udf_vector_norm"] = ORACLE_UDF_VECTOR_NORM


# --------------------------------------------------------------------------
# kmeans_cluster — distributed Lloyd iterations (the ANN training loop)
# --------------------------------------------------------------------------

_KM_K = 4
_KM_ITERS = 2
_KM_DIM = 64


def _km_assign(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: squared-L2 against the k-row centroid
    table (broadcast — bounded by k, never by the corpus), argmin via a
    lexicographic ``min(struct(dist, cid))`` so distance ties break to the
    smaller centroid id deterministically on any engine."""
    d = F.aggregate(
        F.zip_with(F.col("v"), F.col("c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        vecs.crossJoin(F.broadcast(cent))
        .withColumn("dist", d)
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("m"))
        .select(
            "vec_id",
            F.col("m.cid").alias("cid"),
            F.col("m.dist").alias("dist"),
        )
    )


def _km_recompute(vecs: DataFrame, assign: DataFrame) -> DataFrame:
    """Element-wise mean per cluster: posexplode to (cid, pos) partial
    averages (map-side combine), re-assembled into the k centroid arrays."""
    j = vecs.join(assign.select("vec_id", "cid"), "vec_id")
    m = (
        j.select("cid", F.posexplode("v").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.avg("val").alias("m"))
    )
    return m.groupBy("cid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
        ).alias("c")
    )


def q_kmeans_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=4, 2 Lloyd iterations, deterministic init =
    vectors 0..3) over the embeddings — the training loop the ANN tier's
    IVF index builds on, expressed as joins + aggregations exactly like
    MLlib's implementation lowers to: per-iteration a bounded k-row
    centroid broadcast, one argmin shuffle on vec_id, one (cid, pos)
    partial-average shuffle. Centroids are persisted per superstep
    (k×dim doubles) so iteration i+1 doesn't recompute iteration i —
    the pagerank superstep pattern.

    The oracle unrolls the same two iterations as chained CTEs, so the
    hash-compare proves the iterative DataFrame loop reproduces the
    closed-form SQL: per-cluster sizes and mean distance to the final
    centroid, rounded to 6 decimals."""
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    cent = vecs.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").cast("long").alias("cid"), F.col("v").alias("c")
    )
    for i in range(_KM_ITERS):
        assign = _km_assign(vecs, cent)
        prev = cent
        cent = track_cache(_km_recompute(vecs, assign))
        cent.count()  # materialize the superstep, truncating re-execution
        if i > 0:
            # release the previous superstep's cache so repeated invocation
            # in a long-lived session doesn't accumulate persisted frames
            prev.unpersist()
    final = _km_assign(vecs, cent)
    return (
        final.groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(F.avg(F.sqrt("dist")), 6).alias("avg_dist"),
        )
        .transform(order_result, "cid")
    )


def _oracle_kmeans() -> str:
    k, dim = _KM_K, _KM_DIM
    parts = [
        "WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),",
        f"c0 AS (SELECT vec_id::BIGINT AS cid, v AS c FROM vecs WHERE vec_id < {k})",
    ]
    prev = "c0"
    for i in range(1, _KM_ITERS + 1):
        parts.append(
            f""", d{i} AS (
  SELECT vec_id, cid,
         list_sum(list_transform(list_zip(v, c),
                  x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist
  FROM vecs, {prev}
), m{i} AS (SELECT vec_id, min(dist) AS md FROM d{i} GROUP BY 1),
a{i} AS (
  SELECT d.vec_id, min(d.cid) AS cid
  FROM d{i} d JOIN m{i} USING (vec_id) WHERE d.dist = md GROUP BY 1
), c{i} AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT a.cid, pos, avg(v[pos]) AS m
    FROM a{i} a JOIN vecs USING (vec_id),
         unnest(range(1, {dim + 1})) AS t(pos)
    GROUP BY 1, 2
  ) GROUP BY cid
)"""
        )
        prev = f"c{i}"
    fi = _KM_ITERS + 1
    parts.append(
        f""", df AS (
  SELECT vec_id, cid,
         list_sum(list_transform(list_zip(v, c),
                  x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist
  FROM vecs, {prev}
), mf AS (SELECT vec_id, min(dist) AS md FROM df GROUP BY 1),
af AS (
  SELECT d.vec_id, min(d.cid) AS cid, min(md) AS md
  FROM df d JOIN mf USING (vec_id) WHERE d.dist = md GROUP BY 1
)
SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(sqrt(md)), 6) AS avg_dist
FROM af GROUP BY cid ORDER BY cid"""
    )
    return "\n".join(parts)


QUERIES["kmeans_cluster"] = q_kmeans_cluster
ORACLE["kmeans_cluster"] = _oracle_kmeans()


# --------------------------------------------------------------------------
# semdedup_lsh — semantic dedup KEEP decision (SemDeDup-style)
# --------------------------------------------------------------------------


def q_semdedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication keep/drop decision (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    2023): partition the embedding space into micro-clusters, anchor each
    cluster on one representative, and DROP members whose cosine to the
    representative clears the near-duplicate threshold. Where
    ``dedup_embedding_cos`` emits the candidate PAIRS, this emits the
    pipeline's actual output — the canonical-keep outcome.

    Spark-first shape: micro-cluster = corpus-sized sign-LSH bucket
    (``_lsh_bits`` — same growth rule the 10× scale study forced on
    ``dedup_embedding_cos``), representative = min vec_id per bucket. The
    representative's VECTOR rides along in a single ``min(struct(vec_id,
    v))`` window over the bucket — one hash shuffle total, no second join,
    no pairwise step: each member is scored against its representative
    only, O(n) comparisons vs SemDeDup's within-cluster O(Σc²). Final agg
    is one row per label.

    100 TB: bucket occupancy is held ~constant by the bit-growth rule, so
    window partitions stay bounded; everything is JVM codegen (fold-based
    cosine), zero UDFs, zero broadcasts."""
    vecs, _bits = _sign_buckets(spark, sf_dir)
    w = Window.partitionBy("bucket")
    rep = F.min(F.struct(F.col("vec_id"), F.col("v"))).over(w)
    scored = vecs.select(
        "label",
        "vec_id",
        rep["vec_id"].alias("rep_id"),
        F.when(
            F.col("vec_id") != rep["vec_id"], S.cosine(F.col("v"), rep["v"])
        ).alias("cos_to_rep"),
    )
    is_drop = (F.col("cos_to_rep") >= 0.3).cast("long")
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum((F.col("vec_id") == F.col("rep_id")).cast("long")).alias(
                "n_reps"
            ),
            F.coalesce(F.sum(is_drop), F.lit(0)).alias("n_dropped"),
            (
                F.count(F.lit(1)) - F.coalesce(F.sum(is_drop), F.lit(0))
            ).cast("long").alias("n_kept"),
            F.round(F.avg("cos_to_rep"), 6).alias("avg_cos_to_rep"),
        )
        .transform(order_result, "label")
    )


def _oracle_semdedup_lsh() -> str:
    return f"""
WITH {_SIGN_VECS_SQL},
rep AS (
  SELECT bucket, min(vec_id) AS rep_id FROM vecs GROUP BY 1
), scored AS (
  SELECT m.label, m.vec_id, r.rep_id,
         CASE WHEN m.vec_id = r.rep_id THEN NULL
              ELSE {_cos_sql("m.v", "rv.v")} END AS cos_to_rep
  FROM vecs m
  JOIN rep r USING (bucket)
  JOIN vecs rv ON rv.vec_id = r.rep_id
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN vec_id = rep_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reps,
       CAST(coalesce(sum(CASE WHEN cos_to_rep >= 0.3 THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_dropped,
       CAST(count(*)
            - coalesce(sum(CASE WHEN cos_to_rep >= 0.3 THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_kept,
       round(avg(cos_to_rep), 6) AS avg_cos_to_rep
FROM scored GROUP BY label ORDER BY label
"""


QUERIES["semdedup_lsh"] = q_semdedup_lsh
ORACLE["semdedup_lsh"] = _oracle_semdedup_lsh()


# --------------------------------------------------------------------------
# knn_pq_adc — product quantization + asymmetric distance computation
# --------------------------------------------------------------------------

_PQ_M = 32       # subspaces (64-dim vector -> 32 x 2-dim subvectors)
_PQ_SUBDIM = 2   # dims per subspace
_PQ_K = 256      # trained codewords per subspace
_PQ_ITERS = 2    # Lloyd iterations over the training sample
_PQ_TRAIN_CAP = 512  # training-sample target size (stride-sampled)


def _pq_d2() -> Column:
    """Subspace squared-L2 — identical scalar IEEE arithmetic to the
    oracle's ``(t.x1-c.c1)*(t.x1-c.c1) + (t.x2-c.c2)*(t.x2-c.c2)``."""
    return (F.col("x1") - F.col("c1")) * (F.col("x1") - F.col("c1")) + (
        F.col("x2") - F.col("c2")
    ) * (F.col("x2") - F.col("c2"))


def _pq_train_stride(spark: SparkSession, sf_dir: str) -> int:
    """Training-sample stride from parquet footers (zero pre-query jobs):
    k-means codebooks train on every stride-th vector, bounding the
    training set near ``_PQ_TRAIN_CAP`` regardless of corpus size — the
    FAISS discipline (codebooks train on a sample, encode everything)."""
    n = metadata_row_count(spark, sf_dir, "embeddings")
    return max(1, n // _PQ_TRAIN_CAP)


def _pq_codebook(sub: DataFrame, stride: int) -> DataFrame:
    """TRAINED per-subspace codebook (m, code, c1, c2): k-means with
    ``_PQ_K`` codewords per subspace — deterministic seeds (the first K
    training subvectors by vec_id, rounded 6 dp) and ``_PQ_ITERS`` Lloyd
    iterations (argmin assignment with (d2, code) tie-break, mean
    recompute rounded 6 dp; an EMPTY cluster keeps its previous codeword
    via the left-join coalesce) — replayed exactly by the oracle's
    ``_pq_train_sql`` CTE chain.

    Cross-engine float caveat (ADVICE r12, documented trade): the mean
    recompute's ``F.avg`` sums in partition order while DuckDB sums
    sequentially, so equality rests on the 6-dp rounding absorbing the
    reassociation ulps; an iterated superstep would amplify a boundary
    flip into cascading assignments. The risk is priced, not ignored:
    every consumer is hash-verified at sf0.001/0.01/0.1 in bare
    sessions each round (different partition counts per scale), and the
    training sample is BOUNDED (~``_PQ_TRAIN_CAP`` rows), so the
    summation tree stays shallow at any corpus size — the dp-sensitive
    surface does not grow with data. An order-independent mean
    (sort-then-fold) would close the gap at ~2× superstep cost if a
    mismatch ever surfaces. Round 12 replaced the 10 label-mean
    demo codewords: the corpus is label-unstructured, so those collapsed
    near the origin and ``knn_pq_recall_eval`` priced the tier at
    recall@3 = 0.033; trained codebooks measure 0.77-0.90 at the three
    certification scales. Every frame here is bounded: training sample
    ~``_PQ_TRAIN_CAP`` × M rows, codebook M × K rows."""
    tr = track_cache(sub.filter(F.col("vec_id") % stride == 0))
    wseed = Window.partitionBy("m").orderBy("vec_id")
    cb = (
        tr.withColumn("rn", F.row_number().over(wseed))
        .filter(F.col("rn") <= _PQ_K)
        .select(
            "m",
            (F.col("rn") - 1).cast("long").alias("code"),
            F.round("x1", 6).alias("c1"),
            F.round("x2", 6).alias("c2"),
        )
    )
    for _ in range(_PQ_ITERS):
        best = (
            tr.join(F.broadcast(cb), "m")
            .select(
                "vec_id",
                "m",
                F.struct(
                    _pq_d2().alias("d2"), F.col("code").alias("code")
                ).alias("sc"),
            )
            .groupBy("vec_id", "m")
            .agg(F.min("sc").alias("b"))
            .select("vec_id", "m", F.col("b.code").alias("code"))
        )
        means = (
            best.join(tr, ["vec_id", "m"])
            .groupBy("m", "code")
            .agg(
                F.round(F.avg("x1"), 6).alias("n1"),
                F.round(F.avg("x2"), 6).alias("n2"),
            )
        )
        cb = track_cache(
            cb.join(means, ["m", "code"], "left").select(
                "m",
                "code",
                F.coalesce("n1", "c1").alias("c1"),
                F.coalesce("n2", "c2").alias("c2"),
            )
        )
        # materialize the superstep (the kmeans/pagerank pattern): the
        # codebook is referenced by MANY downstream broadcast subtrees
        # (next iteration, encode, LUT), and a lazy cache lets their
        # concurrently-building exchanges race to recompute the whole
        # training chain before the cache populates — measured 28 s cold
        # vs ~4 s materialized at sf0.1. M×K rows per superstep, so the
        # job is bounded by the training sample, never the corpus.
        cb.count()
    return cb


def _pq_encode(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest-codeword encode per (vec_id, m): broadcast codebook join +
    ONE partial-agg shuffle (``min(struct(d2, code))`` = argmin with the
    code tie-break)."""
    return (
        sub.join(F.broadcast(cb), "m")
        .select(
            "vec_id",
            "m",
            F.struct(
                _pq_d2().alias("d2"), F.col("code").alias("code")
            ).alias("sc"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min("sc").alias("best"))
        .select("vec_id", "m", F.col("best.code").alias("code"))
    )


def _pq_qlut(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Per-query ADC lookup table: distance from each query subvector to
    EVERY codeword — queries × M × K rows, bounded, broadcast."""
    return (
        sub.filter(F.col("vec_id") < _N_QUERIES)
        .join(F.broadcast(cb), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "code",
            F.round(_pq_d2(), 6).alias("qd2"),
        )
    )


def _adc(
    codes: DataFrame, lut: DataFrame, on: Column | None = None
) -> DataFrame:
    """Asymmetric-distance scan (query_id, neighbor_id, adc_d2): the code
    table joins the broadcast query LUT on (m, code) and sums the
    per-subspace distances per (query, vector), self excluded. ``on`` is
    an extra join condition, the IVF cell restriction."""
    ne = F.col("vec_id") != F.col("query_id")
    return (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(ne if on is None else on & ne)
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("qd2"), 6).alias("adc_d2"))
        .withColumnRenamed("vec_id", "neighbor_id")
    )


def _adc_sql(name: str, codes: str, lut: str, on: str | None = None) -> str:
    """CTE ``name(query_id, neighbor_id, adc_d2)``: ``_adc`` in DuckDB
    (``codes`` aliased ``c``, ``lut`` aliased ``q`` in ``on``)."""
    cond = f" AND {on}" if on else ""
    return f"""{name} AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, round(sum(q.qd2), 6) AS adc_d2
  FROM {codes} c JOIN {lut} q ON q.m = c.m AND q.code = c.code
  WHERE c.vec_id <> q.query_id{cond}
  GROUP BY 1, 2)"""


def _with_cells(
    codes: DataFrame, lut: DataFrame, cells: DataFrame
) -> tuple[DataFrame, DataFrame, Column]:
    """The nprobe=1 IVF restriction: each code row tagged with its
    vector's ``cell``, each query's LUT rows with its home ``qcell`` (a
    bounded broadcast), and the ``_adc`` join condition over the two."""
    qcells = cells.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("cell").alias("qcell")
    )
    return (
        codes.join(cells, "vec_id"),
        lut.join(F.broadcast(qcells), "query_id"),
        F.col("cell") == F.col("qcell"),
    )


def _with_cells_sql(p: str) -> str:
    """CTEs ``{p}_codesc`` and ``{p}_qlutc``: ``_with_cells`` in DuckDB
    over ``{p}_codes``, ``{p}_qlut`` and ``assigned``."""
    return f"""{p}_codesc AS (
  SELECT c.vec_id, a.cell, c.m, c.code
  FROM {p}_codes c JOIN assigned a ON a.vec_id = c.vec_id),
{p}_qlutc AS (
  SELECT q.query_id, a.cell AS qcell, q.m, q.code, q.qd2
  FROM {p}_qlut q JOIN assigned a ON a.vec_id = q.query_id)"""


_IN_CELL_SQL = "c.cell = q.qcell"


def _pq_dims(src: DataFrame) -> DataFrame:
    """(vec_id, pos, x) coordinate stream — the pivot input shared by the
    OPQ-lite assignment trainer and the subvector builders."""
    return src.select("vec_id", F.posexplode("v").alias("pos", "x"))


def _pq_opq_map(vecs: DataFrame) -> DataFrame:
    """The SERVED subspace assignment (round 13, adopted per the
    ``knn_pq_opq_eval`` rule "recall-positive at equal scan"): rank the
    64 coordinates by per-dimension sample variance (rounded 6 dp — raw
    ranks would let ~1e-13 engine reassociation noise flip near-ties —
    position tie-break) and pair rank r with rank 2M−1−r
    (boustrophedon), so each 2-dim subspace holds one high- and one
    low-variance coordinate and NO subspace holds an adjacent
    (2m, 2m+1) pair. Measured against the adjacent identity pairing at
    equal M/K/scan: recall@3 +0.133/+0.067/+0.033 at sf0.001/0.01/0.1
    (the corpus is near-isotropic — dim-variance spread 1.2× — so the
    gain is the DE-ADJACENCY, not the balance; the eval keeps both
    priced). One bounded output (64 rows, broadcast to the pivot);
    the variance pass is one corpus scan, cached under query scope."""
    dims = _pq_dims(vecs)
    dvar = dims.groupBy("pos").agg(
        F.round(F.var_samp("x"), 6).alias("vr")
    )
    wrk = Window.orderBy(F.col("vr").desc(), F.col("pos").asc())
    rnk = dvar.select(
        "pos", (F.row_number().over(wrk) - 1).cast("long").alias("r")
    )
    return track_cache(
        rnk.select(
            "pos",
            F.when(F.col("r") < _PQ_M, F.col("r"))
            .otherwise(2 * _PQ_M - 1 - F.col("r"))
            .alias("m"),
            F.when(F.col("r") < _PQ_M, F.lit(1))
            .otherwise(F.lit(2))
            .alias("slot"),
        )
    )


def _pq_sub_pivot(src: DataFrame, amap: DataFrame) -> DataFrame:
    """Subvector stream (vec_id, m, x1, x2) under an explicit assignment
    map: explode → broadcast-join the 64-row map → pivot to the two
    slot columns. With ``_PQ_SUBDIM`` = 2 a subvector is two scalar
    DOUBLE columns, so every distance in the n×M×K encode join is plain
    codegen arithmetic — no per-row array allocation on the hot path.

    The stream is explicitly repartitioned by vec_id: every consumer
    amplifies each row ×K against the broadcast codebook (n×M×K
    intermediate rows), so task parallelism must be injected BEFORE the
    amplification — widen_scan's byte gate can't see compute
    amplification, and a 1-split corpus file otherwise puts the whole
    16M-row encode sort on one core (measured 13.8 s → 1.3 s at sf0.1
    on the r12 projection form of this stream). The exchange payload is
    the compact pre-amplification stream (n×M scalar rows), linear in
    the corpus and co-keyed with every downstream (vec_id, m)
    aggregation."""
    sc = src.sparkSession.sparkContext
    return (
        _pq_dims(src)
        .join(F.broadcast(amap), "pos")
        .groupBy("vec_id", "m")
        .agg(
            F.max(F.when(F.col("slot") == 1, F.col("x"))).alias("x1"),
            F.max(F.when(F.col("slot") == 2, F.col("x"))).alias("x2"),
        )
        .repartition(sc.defaultParallelism, "vec_id")
    )


def _pq_opq_map_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVED assignment map, promoted (64 rows): the variance
    ranking scans the corpus once per process instead of once per
    family member."""
    return _trained(
        spark,
        sf_dir,
        "pq_opq_map",
        lambda: _pq_opq_map(_vecs(spark, sf_dir).select("vec_id", "v")),
    )


def _pq_sub_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVED subvector stream: OPQ-lite balanced assignment over
    the raw corpus. One construction shared by ``knn_pq_adc``,
    ``knn_ivfpq`` and the codebook trainer (``_pq_codebook_t``), so
    every served tier encodes the stream its promoted codebook was
    trained on; the assignment map is the promoted artifact
    (``_pq_opq_map_t``)."""
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    return _pq_sub_pivot(vecs, _pq_opq_map_t(spark, sf_dir))


def _pq_codebook_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVED PQ codebook (M×K rows), promoted: trained once per
    process from the OPQ-lite subvector stream (seeded k-means,
    ``_pq_codebook``) and re-emitted as a LocalRelation for every
    family member — knn_pq_adc, knn_ivfpq, the curve, the rerank, the
    recall eval's nested tiers, the residual eval's raw variant and the
    opq eval's balanced variant all serve THIS exact table."""
    return _trained(
        spark,
        sf_dir,
        "pq_codebook_opq",
        lambda: _pq_codebook(
            _pq_sub_opq(spark, sf_dir), _pq_train_stride(spark, sf_dir)
        ),
    )


def _pq_exact3_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact squared-L2 ground-truth top-3 under the PQ-tier convention
    (self excluded, d2 rounded 6 dp, ties to the smaller neighbor_id),
    promoted (|queries|×3 rows): the |queries|×n linear truth pass runs
    once per process instead of once per recall eval. Columns
    (query_id, neighbor_id, d2); evals that need ids only project."""

    def build() -> DataFrame:
        return _truth(
            _vecs(spark, sf_dir).select("vec_id", "v"),
            F.round(S.l2sq(F.col("qv"), F.col("v")), 6).alias("d2"),
            F.col("d2").asc(),
        ).select("query_id", "neighbor_id", "d2")

    return _trained(spark, sf_dir, "pq_exact3", build)


def _pq_opq_map_sql(
    vecs: str = "vecs", dims: str = "opq_dims", map_name: str = "opq_map"
) -> str:
    """CTE chain replaying ``_pq_opq_map`` (+ the ``{dims}`` stream the
    pivots consume): 0-based positions to match posexplode."""
    return f"""{dims} AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
  FROM {vecs}),
{dims}_var AS (
  SELECT pos, round(var_samp(x), 6) AS vr FROM {dims} GROUP BY 1),
{dims}_rnk AS (
  SELECT pos, CAST(row_number() OVER (ORDER BY vr DESC, pos ASC) - 1
    AS BIGINT) AS r
  FROM {dims}_var),
{map_name} AS (
  SELECT pos,
         CASE WHEN r < {_PQ_M} THEN r ELSE {2 * _PQ_M - 1} - r END AS m,
         CASE WHEN r < {_PQ_M} THEN 1 ELSE 2 END AS slot
  FROM {dims}_rnk)"""


def _pq_sub_pivot_sql(src_dims: str, map_name: str, sub_name: str) -> str:
    """CTE replaying ``_pq_sub_pivot`` over a prebuilt dims stream."""
    return f"""{sub_name} AS (
  SELECT d.vec_id, a.m,
         max(CASE WHEN a.slot = 1 THEN d.x END) AS x1,
         max(CASE WHEN a.slot = 2 THEN d.x END) AS x2
  FROM {src_dims} d JOIN {map_name} a ON a.pos = d.pos GROUP BY 1, 2)"""


def _knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN scan (Jégou/Douze/Schmid IVFADC, the
    memory-bounded path): corpus vectors compress from 64 doubles
    (512 B) to ``_PQ_M`` = 32 single-byte codes (16× memory cut), and
    each query scores candidates by ASYMMETRIC distance — sum over
    subspaces of the query-subvector→codeword distance — via a per-query
    lookup table, never touching the original vectors at scan time.

    Spark-first shape: TRAINED per-subspace k-means codebooks
    (``_pq_codebook`` — deterministic seeds + unrolled Lloyd iterations
    over a footer-stride training sample, so the DuckDB oracle replays
    training exactly); encoding is a broadcast join + one partial-agg
    shuffle; the query LUT (queries × M × K rows) broadcasts, and the
    ADC scan is a keyed (m, code) join over the CODES table — the
    shuffled payload per corpus vector is 32 (m, code) pairs, not 64
    doubles. Compose with IVF cell pruning (``knn_ivfpq``) for a
    sub-linear candidate set; this query keeps the full ADC scan so the
    compression arithmetic itself is what the oracle hash-checks.
    Recall evidence: ``knn_pq_recall_eval`` (0.033 with the r11
    label-mean demo codebook → 0.77-0.90 trained r12 → 0.87-0.97 with
    the r13 OPQ-lite assignment).

    The subvector stream is the OPQ-lite BALANCED assignment
    (``_pq_sub_opq``, adopted round 13: +0.133/+0.067/+0.033 recall@3
    over the adjacent identity pairing at identical scan cost —
    ``knn_pq_opq_eval`` is the pricing harness and keeps the identity
    counterfactual measured), built on the same construction as
    ``knn_ivfpq``'s; both tiers serve the promoted ``_pq_codebook_t``,
    so when ``knn_pq_recall_eval`` runs BOTH tiers the codebook is
    trained once per process. (Both tiers train on RAW vectors; the
    residual-training alternative is priced — and measured
    recall-negative on this corpus — by ``knn_pq_residual_eval``.)
    """
    sub = _pq_sub_opq(spark, sf_dir)
    cb = _pq_codebook_t(spark, sf_dir)
    adc = _adc(_pq_encode(sub, cb), _pq_qlut(sub, cb))
    return _topk(
        adc, ["query_id"], F.col("adc_d2").asc(), 3, "rank", bigint=True
    )


def q_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_knn_pq_adc`` in result order (``knn_pq_recall_eval``
    joins the unordered rows)."""
    return order_result(_knn_pq_adc(spark, sf_dir), "query_id", "rank")


def _pq_train_sql(sub: str, prefix: str = "pq") -> str:
    """CTE chain (appended after a ``vecs(vec_id, v)`` CTE) that replays
    ``_pq_codebook`` + ``_pq_encode`` + ``_pq_qlut`` exactly over the
    subvector CTE ``sub(vec_id, m, x1, x2)``: stride ``{prefix}_st``
    (from the corpus count), training sample ``{prefix}_tr``, seeds
    ``{prefix}_cb0``, Lloyd iterations
    ``{prefix}_b{{i}}``/``{prefix}_m{{i}}``/``{prefix}_cb{{i}}``, then
    ``{prefix}_cb``, ``{prefix}_codes(vec_id, m, code, d2)`` (``d2`` is
    the winning codeword's squared distance, the per-subvector
    reconstruction error) and ``{prefix}_qlut(query_id, m, code, qd2)``.
    Distinct prefixes let several chains coexist in one statement."""
    p = prefix
    d2 = (
        "(t.x1 - c.c1) * (t.x1 - c.c1)"
        " + (t.x2 - c.c2) * (t.x2 - c.c2)"
    )
    parts = [
        f"""{p}_st AS (
  SELECT greatest(1, CAST(floor(count(*) / {_PQ_TRAIN_CAP}.0) AS BIGINT)) AS s
  FROM vecs),
{p}_tr AS (SELECT * FROM {sub} WHERE vec_id % (SELECT s FROM {p}_st) = 0),
{p}_cb0 AS (
  SELECT m, CAST(rn - 1 AS BIGINT) AS code,
         round(x1, 6) AS c1, round(x2, 6) AS c2
  FROM (SELECT *, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
        FROM {p}_tr) WHERE rn <= {_PQ_K})"""
    ]
    prev = f"{p}_cb0"
    for i in range(1, _PQ_ITERS + 1):
        parts.append(
            f"""{p}_b{i} AS (
  SELECT vec_id, m, code FROM (
    SELECT t.vec_id, t.m, c.code, row_number() OVER (
        PARTITION BY t.vec_id, t.m ORDER BY {d2} ASC, c.code ASC) AS rn
    FROM {p}_tr t JOIN {prev} c ON c.m = t.m) WHERE rn = 1),
{p}_m{i} AS (
  SELECT b.m, b.code, round(avg(t.x1), 6) AS n1, round(avg(t.x2), 6) AS n2
  FROM {p}_b{i} b JOIN {p}_tr t ON t.vec_id = b.vec_id AND t.m = b.m
  GROUP BY 1, 2),
{p}_cb{i} AS (
  SELECT c.m, c.code, coalesce(m.n1, c.c1) AS c1, coalesce(m.n2, c.c2) AS c2
  FROM {prev} c LEFT JOIN {p}_m{i} m ON m.m = c.m AND m.code = c.code)"""
        )
        prev = f"{p}_cb{i}"
    parts.append(
        f"""{p}_cb AS (SELECT m, code, c1, c2 FROM {prev}),
{p}_codes AS (
  SELECT vec_id, m, code, d2 FROM (
    SELECT t.vec_id, t.m, c.code, {d2} AS d2, row_number() OVER (
        PARTITION BY t.vec_id, t.m ORDER BY {d2} ASC, c.code ASC) AS rn
    FROM {sub} t JOIN {p}_cb c ON c.m = t.m) WHERE rn = 1),
{p}_qlut AS (
  SELECT t.vec_id AS query_id, t.m, c.code, round({d2}, 6) AS qd2
  FROM {sub} t JOIN {p}_cb c ON c.m = t.m
  WHERE t.vec_id < {_N_QUERIES})"""
    )
    return ",\n".join(parts)


# The served PQ chain after a ``vecs`` CTE: OPQ-lite map, subvector
# pivot, codebook training, ``pq_codes`` and ``pq_qlut``.
_PQ_SERVED_SQL = f"""{_pq_opq_map_sql()},
{_pq_sub_pivot_sql("opq_dims", "opq_map", "pq_subp")},
{_pq_train_sql("pq_subp")}"""

ORACLE_KNN_PQ_ADC = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_PQ_SERVED_SQL},
{_adc_sql("adc", "pq_codes", "pq_qlut")},
{_served_sql("adc", "adc_d2", False)}
"""


QUERIES["knn_pq_adc"] = q_knn_pq_adc
ORACLE["knn_pq_adc"] = ORACLE_KNN_PQ_ADC


# --------------------------------------------------------------------------
# knn_ivfpq — the IVFADC composition: coarse cells + PQ codes within cell
# --------------------------------------------------------------------------


def _knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ — the full IVFADC architecture (FAISS's default billion-
    scale index): the TRAINED coarse quantizer (``_ivf_cells``, shared
    with ``knn_ivf``) restricts each query to ITS OWN cell (sub-linear
    candidate set), and within the cell candidates are scored by PQ
    asymmetric distance over the TRAINED per-subspace codebooks
    (``_pq_codebook``, shared with ``knn_pq_adc``) — so the scan side
    touches neither the full corpus nor any raw vector. The two stages
    compose exactly as their standalone queries prove them; the shuffled
    candidate payload is (cell, m, code) per vector, the codebooks and
    the per-query LUT broadcast. Recall evidence: ``knn_pq_recall_eval``
    (the ivfpq row adds the nprobe=1 cell-miss loss on top of the
    codebook distortion the pq_adc row isolates).

    ``by_residual`` is OFF — a MEASURED decision, not an omission
    (round 13): canonical IVFADC (Jégou/Douze/Schmid §III.C) quantizes
    the residual ``x − centroid(cell(x))``, which wins when the coarse
    quantizer removes real variance. On THIS corpus it removes 5–7.5%
    (``knn_pq_residual_eval``'s coarse_rss_ratio = 0.925/0.926/0.948),
    so residual codebooks buy only a 3-11% reconstruction-distortion
    cut — inside top-3 ranking noise — while paying a second training
    chain: under the served OPQ-lite assignment, measured recall@3
    0.800/0.833/0.833 (residual) vs 0.833/0.900/0.867 (raw) at
    sf0.001/0.01/0.1, and the same sign held for the pre-OPQ identity
    assignment across a 4×-sample / 2×-iteration training sweep.
    ``knn_pq_residual_eval`` keeps both variants priced; flip to
    residual when a corpus shows coarse_rss_ratio well below ~0.8.
    The OTHER codebook lever, the OPQ-lite subspace assignment, was
    measured recall-POSITIVE and adopted (``_pq_opq_map``).

    The PQ stream builds from the RAW scan and the cell map joins onto
    the code table afterwards (one vec_id-keyed equi-join of two compact
    corpus-linear frames, co-partitionable at scale) — mirroring the
    oracle's CTE shape.
    """
    adc = _ivfpq_adc(spark, sf_dir)
    return _topk(
        adc, ["query_id"], F.col("adc_d2").asc(), 3, "rank", bigint=True
    )


def _ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The served IVFADC scan, untruncated: every in-cell candidate of
    each query with its ADC distance. ``knn_ivfpq`` cuts it to top-3;
    the refine stage (``_ivfpq_refine``) to a top-R shortlist."""
    _cent, assigned = _ivf_cells(spark, sf_dir)
    sub = _pq_sub_opq(spark, sf_dir)
    cb = _pq_codebook_t(spark, sf_dir)
    codes, qlut, in_cell = _with_cells(
        _pq_encode(sub, cb),
        _pq_qlut(sub, cb),
        assigned.select("vec_id", "cell"),
    )
    return _adc(codes, qlut, in_cell)


def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_knn_ivfpq`` in result order (``knn_pq_recall_eval``
    joins the unordered rows)."""
    return order_result(_knn_ivfpq(spark, sf_dir), "query_id", "rank")


# ``_ivfpq_adc`` in DuckDB: the CTE chain up to the cell-restricted
# ``adc(query_id, neighbor_id, adc_d2)``.
_IVFPQ_ADC_SQL = f"""vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ivf_train_sql()},
{_PQ_SERVED_SQL},
{_with_cells_sql("pq")},
{_adc_sql("adc", "pq_codesc", "pq_qlutc", _IN_CELL_SQL)}"""

ORACLE_KNN_IVFPQ = f"""
WITH {_IVFPQ_ADC_SQL},
{_served_sql("adc", "adc_d2", False)}
"""


QUERIES["knn_ivfpq"] = q_knn_ivfpq
ORACLE["knn_ivfpq"] = ORACLE_KNN_IVFPQ


# --------------------------------------------------------------------------
# embedding_quantize_int8 — per-dimension symmetric int8 quantization
# --------------------------------------------------------------------------


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension symmetric int8 quantization of the embedding corpus —
    the storage-tier companion to the PQ queries: at 100 TB an fp32
    embedding column is 4× the bytes of int8 codes, and scalar (per-dim
    max-abs) quantization is the standard first step before ANN serving
    (faiss ScalarQuantizer QT_8bit_direct family).

    Per dimension d: ``scale_d = max(|x_d|) / 127``; code =
    ``round(x / scale)``; an all-zero dimension yields scale 0, and 0/0
    NaN propagation/rounding presentation can diverge across engines, so
    the scale is null-guarded with ``nullif(scale, 0)`` on BOTH sides
    (ADVICE r6) — a zero dimension then emits null code/error, identically
    skipped by the aggregates in Spark and DuckDB. The query audits the
    codebook itself — one row
    per dimension with the scale and the worst/mean absolute
    reconstruction error of ``code * scale`` — so the hash-match proves
    every element was quantized and reconstructed identically.

    Scale shape: posexplode is map-side; per-dim max is a 64-group
    partial-agg shuffle; the scales (64 rows) broadcast back onto the
    exploded stream for the error pass — a second 64-group partial agg.
    Nothing shuffles the raw vectors, and at cluster scale both aggs are
    map-side-combined down to 64 rows per partition."""
    ex = _vecs(spark, sf_dir).select(
        "vec_id", F.posexplode("v").alias("dim", "x")
    )
    scales = (
        ex.groupBy("dim")
        .agg((F.max(F.abs("x")) / 127.0).alias("scale"))
    )
    err = (
        ex.join(F.broadcast(scales), "dim")
        .withColumn("safe_scale", F.nullif(F.col("scale"), F.lit(0.0)))
        .withColumn("code", F.round(F.col("x") / F.col("safe_scale")))
        .withColumn(
            "abs_err", F.abs(F.col("code") * F.col("safe_scale") - F.col("x"))
        )
    )
    return (
        err.groupBy("dim")
        .agg(
            F.round(F.min("scale") * 1000, 6).alias("scale_permille"),
            F.max(F.abs("code")).cast("long").alias("max_code"),
            F.round(F.max("abs_err") * 1000, 6).alias("max_err_permille"),
            F.round(F.avg("abs_err") * 1000, 6).alias("avg_err_permille"),
        )
        .transform(order_result, "dim")
    )


ORACLE_EMB_QUANT_INT8 = """
WITH ex AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), scales AS (
  SELECT dim, max(abs(x)) / 127.0 AS scale FROM ex GROUP BY dim
), err AS (
  SELECT e.dim, s.scale, round(e.x / nullif(s.scale, 0)) AS code,
         abs(round(e.x / nullif(s.scale, 0)) * nullif(s.scale, 0) - e.x)
           AS abs_err
  FROM ex e JOIN scales s USING (dim)
)
SELECT dim,
       round(min(scale) * 1000, 6) AS scale_permille,
       CAST(max(abs(code)) AS BIGINT) AS max_code,
       round(max(abs_err) * 1000, 6) AS max_err_permille,
       round(avg(abs_err) * 1000, 6) AS avg_err_permille
FROM err GROUP BY dim ORDER BY dim
"""

QUERIES["embedding_quantize_int8"] = q_embedding_quantize_int8
ORACLE["embedding_quantize_int8"] = ORACLE_EMB_QUANT_INT8


# --------------------------------------------------------------------------
# knn_lsh_banded — multi-band serving-side ANN
# --------------------------------------------------------------------------


def q_knn_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH top-3 serving: a neighbor is a candidate iff it
    shares ANY of the query's band keys — the serving twin of the
    ``_banded_cand`` self-join generator (``_lsh_cfg``: b bands × r
    disjoint planes, occupancy ~16 per band-bucket to ~69 B vectors).
    Against ``knn_signlsh`` this is the production recall/latency trade:
    per-query candidates are ≤ b× the single-band set (a CONSTANT factor)
    while the any-band OR restores the recall a wider key costs —
    certified side-by-side by ``knn_recall_eval``.

    Plan: the exploded query band keys ride a broadcast (b·|Q| rows, the
    serving rule — the bounded side is the query set, never the corpus);
    the corpus side probes by (band, key) equi-join map-side; a candidate
    colliding in several bands collapses via max(score) — the duplicate
    scores are bit-identical (same vectors, same fold), so max IS the
    value and matches the oracle's score-after-DISTINCT."""
    return order_result(
        _banded_topk(spark, sf_dir, _lsh_cfg, S.sign_bands), "query_id", "rank"
    )


def _banded_topk(
    spark: SparkSession, sf_dir: str, cfg, keyfn
) -> DataFrame:
    """Shared banded serving plan (``q_knn_lsh_banded``'s docstring is
    the design record): any-band candidate OR, broadcast query keys,
    (band, key) equi-join probe, max-collapse, top-3 per query.
    ``cfg``/``keyfn`` select the plane tier exactly as in
    ``_banded_cand``: coordinate signs or md5 random hyperplanes.

    The two tiers take DIFFERENT plan shapes on a measured cost fork
    (ADVICE r9): the coordinate-sign keygen is a free JVM projection, so
    computing it once per self-join side is cheaper than caching the
    corpus; the RP keygen is a full-corpus Arrow int64 matmul, so the RP
    path scope-caches the vectors and the exploded key frame (the
    ``_banded_cand`` keygen-once discipline) and both the probe side and
    the scoring joins read the caches. Values are identical across the
    fork: a candidate colliding in several bands carries bit-identical
    scores (same vectors, same fold), so DISTINCT-then-score equals
    score-then-max-collapse."""
    bands, bits = cfg(metadata_row_count(spark, sf_dir, "embeddings"))
    if keyfn is S.rp_bands:
        vecs = track_cache(_vecs(spark, sf_dir).select("vec_id", "v"))
        keys = track_cache(
            vecs.select(
                "vec_id",
                F.posexplode(keyfn(F.col("v"), bands, bits)).alias(
                    "band", "bkt"
                ),
            )
        )
        qk = keys.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("band").alias("qband"),
            F.col("bkt").alias("qbkt"),
        )
        cand = (
            F.broadcast(qk)
            .join(
                keys,
                (F.col("band") == F.col("qband"))
                & (F.col("bkt") == F.col("qbkt"))
                & (F.col("vec_id") != F.col("query_id")),
            )
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
            .distinct()
        )
        scored = (
            cand.join(
                vecs.alias("va"),
                F.col("query_id") == F.col("va.vec_id"),
            )
            .join(
                vecs.alias("vb"),
                F.col("neighbor_id") == F.col("vb.vec_id"),
            )
            .select(
                "query_id",
                "neighbor_id",
                S.cosine(F.col("va.v"), F.col("vb.v")).alias("score"),
            )
        )
    else:
        ex = _vecs(spark, sf_dir).select(
            "vec_id",
            "v",
            F.posexplode(keyfn(F.col("v"), bands, bits)).alias(
                "band", "bkt"
            ),
        )
        q = ex.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("band").alias("qband"),
            F.col("bkt").alias("qbkt"),
        )
        scored = (
            F.broadcast(q)
            .join(
                ex,
                (F.col("band") == F.col("qband"))
                & (F.col("bkt") == F.col("qbkt"))
                & (F.col("vec_id") != F.col("query_id")),
            )
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                S.cosine(F.col("qv"), F.col("v")).alias("score"),
            )
            .groupBy("query_id", "neighbor_id")
            .agg(F.max("score").alias("score"))
        )
    return _topk(
        scored, ["query_id"], F.col("score").desc(), 3, "rank",
        bigint=True,
    )


# qscored(query_id, neighbor_id, score): each query's DISTINCT any-band
# neighbors over ``banded``, scored once against ``raw`` — the oracle of
# ``_banded_topk``'s candidate and scoring steps.
_QPROBE_SQL = f"""qc AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM banded q JOIN banded c
    ON c.band_idx = q.band_idx AND c.band_key = q.band_key
   AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
qscored AS (
  SELECT qc.query_id, qc.neighbor_id, {_cos_sql("a.v", "b.v")} AS score
  FROM qc
  JOIN raw a ON a.vec_id = qc.query_id
  JOIN raw b ON b.vec_id = qc.neighbor_id
)"""

ORACLE_KNN_BANDED = f"""
WITH {_BANDED_CAND_CTES},
{_QPROBE_SQL},
{_served_sql("qscored")}
"""


QUERIES["knn_lsh_banded"] = q_knn_lsh_banded
ORACLE["knn_lsh_banded"] = ORACLE_KNN_BANDED


# --------------------------------------------------------------------------
# knn_recall_eval — measure the ANN approximations against ground truth
# --------------------------------------------------------------------------


def q_knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@3 of the sign-LSH index against the
    brute-force ground truth, per query and summarized. Every production
    ANN deployment ships this eval next to the index (faiss/ScaNN recall
    curves): the engine should too, as a first-class query rather than a
    notebook ritual.

    Composition, not re-derivation: all sides ARE existing registry
    queries (same code paths the driver checks), joined on
    (query_id, neighbor_id); recall@3 = |ANN ∩ exact| / 3. Round 9 scores
    BOTH approximate indexes — the single-band primitive
    (``knn_signlsh``) and the banded production config
    (``knn_lsh_banded``) — side by side, certifying the banding claim
    (bands buy recall back) as data rather than doctrine. The join input
    is top-3 lists (3 rows per query on each side), so the eval costs
    nothing at any scale — the expensive parts are the index builds the
    sub-queries already optimized."""
    bf = _knn_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ann = _knn_signlsh(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    bnd = _banded_topk(spark, sf_dir, _lsh_cfg, S.sign_bands).select(
        "query_id", "neighbor_id"
    )
    per_q = bf.select("query_id").distinct()
    for approx, name, hits in (
        (ann, "recall_at_3", "n_hits"),
        (bnd, "recall_banded_at_3", "n_hits_banded"),
    ):
        per_q = _recall(bf, approx, per_q, ["query_id"], name, 3, 4, hits)
    return per_q.select(
        "query_id", "n_hits", "n_hits_banded", "recall_at_3",
        "recall_banded_at_3",
    ).transform(order_result, "query_id")


ORACLE_KNN_RECALL = f"""
WITH bf AS ({ORACLE_KNN_BRUTEFORCE}),
ann AS ({ORACLE_KNN_SIGNLSH}),
bnd AS ({ORACLE_KNN_BANDED}),
qs AS (SELECT DISTINCT query_id FROM bf),
{_recall_sql("r1", "bf", "ann", "qs", ["query_id"], "recall_at_3", 3, 4,
             "n_hits")},
{_recall_sql("r2", "bf", "bnd", "r1", ["query_id"], "recall_banded_at_3", 3,
             4, "n_hits_banded")}
SELECT query_id, n_hits, n_hits_banded, recall_at_3, recall_banded_at_3
FROM r2 ORDER BY query_id
"""

QUERIES["knn_recall_eval"] = q_knn_recall_eval
ORACLE["knn_recall_eval"] = ORACLE_KNN_RECALL


# --------------------------------------------------------------------------
# embedding_gram_matrix — distributed X^T X (round 7)
# --------------------------------------------------------------------------

_GRAM_DIM = 64


def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix ``G = Xᵀ X`` over the embedding corpus —
    the mergeable linear-algebra primitive behind PCA / whitening /
    OPQ rotation estimation (what ``RowMatrix.computeGramianMatrix``
    does in mllib, re-expressed DataFrame-first). Each Arrow batch
    computes its LOCAL 64×64 outer-product sum with one BLAS dgemm
    (``X.T @ X`` in float64 — never a per-element Python loop), emits
    the 2,080 upper-triangle cells, and a (i, j) groupBy SUM merges the
    per-batch partials associatively.

    This is the matrix version of the sketch-tier argument: shuffle
    volume is ``n_batches × d(d+1)/2`` — INDEPENDENT of corpus size —
    so at 100 TB the executors stream the embedding column once and
    ship 16 KB of partial sums per batch. float32 inputs are exactly
    representable in float64 and each product is exact (24×24 ≤ 53
    mantissa bits); only the final summation order differs between
    numpy/Spark/DuckDB, so both engines round the MERGED cell to 4
    decimals (the repo's float-aggregate convention; wobble ~1e-10
    against a 1e-4 grid)."""
    import numpy as np

    e = widen_scan(
        load_table(spark, sf_dir, "embeddings").select("embedding")
    ).filter(F.col("embedding").isNotNull())

    iu, ju = np.triu_indices(_GRAM_DIM)

    def gram_partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].values).astype(np.float64)
            G = X.T @ X
            yield pd.DataFrame(
                {"i": iu + 1, "j": ju + 1, "g": G[iu, ju]}
            )

    partials = e.mapInPandas(gram_partials, "i long, j long, g double")
    return (
        partials.groupBy("i", "j")
        .agg(F.round(F.sum("g"), 4).alias("g"))
        .transform(order_result, "i", "j")
    )


ORACLE_EMBEDDING_GRAM = f"""
WITH cells AS (
  SELECT i.i AS i, j.j AS j,
         CAST(embedding[i.i] AS DOUBLE) * CAST(embedding[j.j] AS DOUBLE)
           AS p
  FROM embeddings
  CROSS JOIN range(1, {_GRAM_DIM + 1}) i(i)
  CROSS JOIN range(1, {_GRAM_DIM + 1}) j(j)
  WHERE embedding IS NOT NULL AND i.i <= j.j
)
SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
       round(sum(p), 4) AS g
FROM cells GROUP BY 1, 2 ORDER BY i, j
"""

QUERIES["embedding_gram_matrix"] = q_embedding_gram_matrix
ORACLE["embedding_gram_matrix"] = ORACLE_EMBEDDING_GRAM


# --------------------------------------------------------------------------
# knn_graph_mutual — mutual-kNN graph construction
# --------------------------------------------------------------------------


def _mutual_edges(
    spark: SparkSession, sf_dir: str, cfg=None, keyfn=None
) -> DataFrame:
    """Shared mutual-kNN edge builder: (src, dst, score, rank_ab, rank_ba)
    with src < dst, unordered. ``knn_graph_mutual`` exposes it directly;
    ``semdedup_mutual`` and ``graph_label_prop`` consume it as their
    clustering substrate.

    Candidates come from ``_banded_cand`` (``cfg``/``keyfn`` select the
    plane tier; default coordinate signs). Each unordered pair is scored
    ONCE (cosine is symmetric: products commute and the fold order is
    positional, so the mirrored edge carries the bit-identical rounded
    score the oracle computes for each direction), then mirrored into the
    directed list the per-source top-3 window ranks."""
    vecs, cand = _banded_cand(spark, sf_dir, cfg=cfg, keyfn=keyfn)
    pair = _scored_pairs(vecs, cand, "score")
    scored = pair.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "score"
    ).unionByName(
        pair.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "score"
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("score").desc(), F.col("dst").asc()
    )
    edges = cache_parallel(
        scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
            F.col("rank") <= 3
        )
    )
    fwd = edges.select("src", "dst", "score", F.col("rank").alias("rank_ab"))
    rev = edges.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.col("rank").alias("rank_ba"),
    )
    return (
        fwd.join(rev, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "score", "rank_ab", "rank_ba")
    )


def q_knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph over the WHOLE embedding corpus — the structure
    semantic-dedup clustering (SemDeDup), graph-based label propagation
    and UMAP-style manifold methods are built on: node pairs where EACH
    is in the other's in-bucket top-3. Mutuality is the standard noise
    filter — an asymmetric edge (a hub attracting distant points) is
    dropped because the far point does not reciprocate.

    Unlike the ``knn_*`` serving queries (a bounded broadcast query set
    against the corpus), this builds edges for EVERY node, so the plan
    follows the dedup-family discipline instead: the candidate generator
    is the sign-LSH bucket SELF-join (both sides corpus-sized → keyed
    shuffle join, NO broadcast hint — the r1/r2 rule), per-source top-3
    is a bucket-local window, and the directed edge list is scope-cached
    once for the mutual join of itself against its own reverse. Cosine
    is bit-symmetric (products commute, zip order is identical), so the
    reciprocal edge carries the identical rounded score and the mutual
    join never drops a pair to a half-ulp.

    At 100 TB: candidates come from the BANDED corpus-adaptive generator
    (``_banded_cand``, see ``dedup_embedding_cos``): per-band occupancy ~16 holds to ~69 B vectors (the
    single-band clamp saturated at ~1M), and the extra bands buy back the
    recall a wider key costs, which matters doubly here because an edge
    must survive TWO top-3 memberships. The corpus count is one plan-time
    ``count()`` against parquet row-group metadata; the oracle derives
    the identical (bands, bits) via the same scalar-subquery pattern.
    Everything else is keyed on src or (src, dst)."""
    return _mutual_edges(spark, sf_dir).transform(order_result, "src", "dst")


def _mutual_edges_ctes(base: str | None = None) -> str:
    """CTE chain ending in ``mut(src, dst, score, rank_ab, rank_ba)`` with
    src < dst — the oracle twin of ``_mutual_edges``, shared by
    knn_graph_mutual, semdedup_mutual and graph_label_prop. Candidates
    come from the shared banded CTEs; each unordered pair is scored once
    and mirrored, exactly as the Spark side. ``base`` swaps the candidate
    chain (must end in raw + cand): ``semdedup_rp`` passes
    ``_RP_CAND_CTES``."""
    return f"""{base or _BANDED_CAND_CTES},
pair AS (
  SELECT c.id_a, c.id_b, {_cos_sql("a.v", "b.v")} AS score
  FROM cand c
  JOIN raw a ON a.vec_id = c.id_a
  JOIN raw b ON b.vec_id = c.id_b
),
scored AS (
  SELECT id_a AS src, id_b AS dst, score FROM pair
  UNION ALL
  SELECT id_b AS src, id_a AS dst, score FROM pair
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY src ORDER BY score DESC, dst ASC) AS BIGINT) AS rank
  FROM scored
),
e AS (SELECT * FROM ranked WHERE rank <= 3),
mut AS (
  SELECT a.src, a.dst, a.score,
         a.rank AS rank_ab, b.rank AS rank_ba
  FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src
  WHERE a.src < a.dst
)"""


QUERIES["knn_graph_mutual"] = q_knn_graph_mutual
ORACLE["knn_graph_mutual"] = (
    f"WITH {_mutual_edges_ctes()}\n"
    "SELECT src, dst, score, rank_ab, rank_ba FROM mut ORDER BY src, dst"
)


# --------------------------------------------------------------------------
# semdedup_mutual — SemDeDup keep decision on the mutual-kNN graph (round 8)
# --------------------------------------------------------------------------

_SDM_SCALE = 65536  # 2^16 quantization: floor(v * 2^16) is exact for any
#                     double, so all cross-member reductions are INTEGER
_SDM_DROP = 0.45    # drop a non-keeper whose cos-to-centroid clears this


def q_semdedup_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup keep decision on the MUTUAL-kNN substrate — the
    consumer ``knn_graph_mutual`` was built for (VERDICT r7 #5), and the
    closest shape to the published SemDeDup pipeline (Abbas et al. 2023:
    cluster the embedding space, keep one representative per cluster,
    drop members too close to it). Where ``semdedup_lsh`` micro-clusters
    by LSH bucket, here the clusters are CONNECTED COMPONENTS of the
    mutual-kNN graph — reciprocal top-3 edges, so a cluster is a set of
    points that mutually agree they are neighbors, not just bucket
    cohabitants. Per cluster: representative = member closest to the
    cluster CENTROID (tie → min vec_id), then non-representatives whose
    cosine to the centroid clears the drop threshold are removed.

    Determinism by construction: vectors are quantized to integers
    (``floor(v·2¹⁶)``), so the centroid-direction per-dimension sums and
    every dot product are EXACT integer arithmetic — the one float-order
    hazard of a distributed centroid (partial sums merging in partition
    order, the ``embedding_gram_matrix`` band risk ADVICE r7 flags) is
    eliminated, not tolerated. Cosine is scale-invariant, so the
    un-normalized integer sum vector stands in for the mean centroid
    exactly. The final double (int-dot / norms) is IEEE-identical on
    both engines.

    100 TB: edges come from the adaptive-width bucket join
    (``_mutual_edges``); components converge in rounds bounded by cluster
    diameter (near-clique mutual clusters: 2-4); the centroid reduction
    is one keyed shuffle of n·64 integer rows; the members⋈centroid join
    is keyed on comp with NO broadcast hint (component count grows with
    the corpus). Overflow headroom: |qm| ≤ 0.6·2¹⁶, so ||S||² ≤
    64·(k·0.6·2¹⁶)² stays under 2⁶³ for clusters up to k ≈ 9,600 members
    — far beyond a mutual-top-3 component."""
    return _semdedup_keep(
        spark, sf_dir, _mutual_edges(spark, sf_dir).select("src", "dst")
    )


def _semdedup_keep(
    spark: SparkSession, sf_dir: str, edges: DataFrame
) -> DataFrame:
    """The SemDeDup keep decision over a given mutual-edge substrate
    (``q_semdedup_mutual``'s docstring is the design record) — shared by
    the coordinate tier and ``semdedup_rp`` (round 10)."""
    from jp_qcew_spark.ext.graph import connected_components

    labels = connected_components(edges, "src", "dst")
    qvecs = _vecs(spark, sf_dir).select(
        "vec_id",
        F.transform(
            F.col("v"), lambda x: F.floor(x * _SDM_SCALE).cast("long")
        ).alias("qm"),
    )
    members = labels.join(
        qvecs, labels["id"] == qvecs["vec_id"]
    ).select("comp", "vec_id", "qm")
    dims = members.select(
        "comp", "vec_id", F.posexplode("qm").alias("i", "x")
    )
    cent = (
        dims.groupBy("comp", "i")
        .agg(F.sum("x").alias("s"))
        .groupBy("comp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "s"))),
                lambda t: t["s"],
            ).alias("sv")
        )
    )
    scored = members.join(cent, "comp").select(
        "comp",
        "vec_id",
        (
            S.idot(F.col("qm"), F.col("sv")).cast("double")
            / (
                F.sqrt(S.idot(F.col("qm"), F.col("qm")).cast("double"))
                * F.sqrt(S.idot(F.col("sv"), F.col("sv")).cast("double"))
            )
        ).alias("cr"),
    )
    w = Window.partitionBy("comp").orderBy(
        F.col("cr").desc(), F.col("vec_id").asc()
    )
    ranked = scored.withColumn("rn", F.row_number().over(w))
    dropped = ((F.col("rn") > 1) & (F.col("cr") >= _SDM_DROP)).cast("long")
    return (
        ranked.groupBy("comp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("vec_id"))).alias("keep_id"),
            F.round(
                F.max(F.when(F.col("rn") == 1, F.col("cr"))), 6
            ).alias("keep_cos"),
            F.coalesce(F.sum(dropped), F.lit(0)).alias("n_dropped"),
            (F.count(F.lit(1)) - F.coalesce(F.sum(dropped), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
        .transform(order_result, "comp")
    )


def _oracle_semdedup(base: str | None = None) -> str:
    """SemDeDup oracle over a mutual-edge chain; ``base`` selects the
    candidate tier exactly as ``_mutual_edges_ctes``."""
    return f"""
WITH RECURSIVE {_mutual_edges_ctes(base)},
{_components_sql("mut", "src", "dst", "vec_id")},
qv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * {_SDM_SCALE}) AS BIGINT)) AS qm
  FROM embeddings
),
mem AS (SELECT c.comp, c.vec_id, q.qm FROM comp c JOIN qv q USING (vec_id)),
dims AS (
  SELECT comp, vec_id, i, qm[i] AS x
  FROM mem CROSS JOIN range(1, 65) t(i)
),
cent AS (SELECT comp, i, CAST(sum(x) AS BIGINT) AS s FROM dims GROUP BY 1, 2),
snorm AS (SELECT comp, CAST(sum(s * s) AS BIGINT) AS sn FROM cent GROUP BY 1),
memdot AS (
  SELECT d.comp, d.vec_id,
         CAST(sum(d.x * c.s) AS BIGINT) AS dm,
         CAST(sum(d.x * d.x) AS BIGINT) AS mn
  FROM dims d JOIN cent c ON d.comp = c.comp AND d.i = c.i
  GROUP BY 1, 2
),
cosr AS (
  SELECT m.comp, m.vec_id,
         CAST(dm AS DOUBLE) / (sqrt(CAST(mn AS DOUBLE))
           * sqrt(CAST(sn AS DOUBLE))) AS cr
  FROM memdot m JOIN snorm USING (comp)
),
rk AS (
  SELECT *, row_number() OVER (
      PARTITION BY comp ORDER BY cr DESC, vec_id ASC) AS rn
  FROM cosr
)
SELECT comp,
       CAST(count(*) AS BIGINT) AS n_members,
       max(CASE WHEN rn = 1 THEN vec_id END) AS keep_id,
       round(max(CASE WHEN rn = 1 THEN cr END), 6) AS keep_cos,
       CAST(coalesce(sum(CASE WHEN rn > 1 AND cr >= {_SDM_DROP}
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped,
       CAST(count(*) - coalesce(sum(CASE WHEN rn > 1 AND cr >= {_SDM_DROP}
                                         THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_kept
FROM rk GROUP BY comp ORDER BY comp
"""


ORACLE_SEMDEDUP_MUTUAL = _oracle_semdedup()

QUERIES["semdedup_mutual"] = q_semdedup_mutual
ORACLE["semdedup_mutual"] = ORACLE_SEMDEDUP_MUTUAL


# --------------------------------------------------------------------------
# sample_kcenter — greedy k-center coreset selection (round 8)
# --------------------------------------------------------------------------

_KC_ROUNDS = 3  # selections after the seed -> 4 centers out


def q_sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point-first) coreset selection — the
    DIVERSITY-sampling complement to the distribution-matching selectors
    (``dsir_importance`` picks what looks like the target; k-center picks
    what covers the space — the Gonzalez 2-approximation every
    active-learning / coreset pipeline starts from). Seed = smallest
    vec_id (published k-center seeds arbitrarily; an arbitrary seed is
    irreproducible, so the engine pins the deterministic choice), then 3
    rounds of: distance of every vector to its NEAREST chosen center
    (cosine distance on the rounded-6 cosine, the tier's comparison
    contract), pick the farthest (ties → min vec_id). The selection
    distance of round k is exactly the k-center coverage radius after
    k−1 centers — so the output doubles as the coverage-decay curve.

    Plan: per round ONE corpus pass — the chosen set (≤ 4 rows) joins by
    broadcast, the per-vector nearest-center reduce is a keyed min, and
    the argmax is Spark's two-phase TakeOrdered; nothing corpus-sized is
    ever collected or broadcast. The oracle unrolls the identical three
    rounds as chained CTEs."""
    vecs = track_cache(
        _vecs(spark, sf_dir).filter(F.col("v").isNotNull())
    )
    chosen = (
        vecs.orderBy("vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("cv"),
            F.lit(0).cast("long").alias("sel_round"),
            F.lit(0.0).alias("sel_dist"),
        )
    )
    for rnd in range(1, _KC_ROUNDS + 1):
        dmin = (
            vecs.crossJoin(F.broadcast(chosen.select("cid", "cv")))
            .select(
                "vec_id",
                (F.lit(1.0) - S.cosine(F.col("v"), F.col("cv"))).alias("d"),
            )
            .groupBy("vec_id")
            .agg(F.min("d").alias("dmin"))
        )
        far = dmin.orderBy(
            F.col("dmin").desc(), F.col("vec_id").asc()
        ).limit(1)
        newc = far.join(vecs, "vec_id").select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("cv"),
            F.lit(rnd).cast("long").alias("sel_round"),
            F.col("dmin").alias("sel_dist"),
        )
        chosen = chosen.unionByName(newc)
    return chosen.select(
        "sel_round",
        F.col("cid").alias("vec_id"),
        F.round("sel_dist", 6).alias("sel_dist"),
    ).transform(order_result, "sel_round")


def _kc_oracle() -> str:
    cos_rc = _cos_sql("r.v", "c.cv")
    rounds = []
    prev = "c0"
    for k in (1, 2, 3):
        rounds.append(f"""d{k} AS (
  SELECT r.vec_id, min(1.0 - {cos_rc}) AS dmin
  FROM raw r CROSS JOIN {prev} c GROUP BY r.vec_id
),
f{k} AS (SELECT vec_id, dmin FROM d{k}
         ORDER BY dmin DESC, vec_id ASC LIMIT 1),
c{k} AS (
  SELECT cid, cv FROM {prev}
  UNION ALL
  SELECT f.vec_id, r.v FROM f{k} f JOIN raw r ON r.vec_id = f.vec_id
)""")
        prev = f"c{k}"
    body = ",\n".join(rounds)
    return f"""
WITH raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM raw ORDER BY vec_id LIMIT 1),
{body}
SELECT CAST(0 AS BIGINT) AS sel_round, cid AS vec_id, 0.0 AS sel_dist
FROM c0
UNION ALL SELECT 1, vec_id, round(dmin, 6) FROM f1
UNION ALL SELECT 2, vec_id, round(dmin, 6) FROM f2
UNION ALL SELECT 3, vec_id, round(dmin, 6) FROM f3
ORDER BY sel_round
"""


QUERIES["sample_kcenter"] = q_sample_kcenter
ORACLE["sample_kcenter"] = _kc_oracle()


# --------------------------------------------------------------------------
# dedup_embedding_rp — random-hyperplane banded generator
# --------------------------------------------------------------------------


def _dedup_embedding_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with the RANDOM-HYPERPLANE banded
    generator — the tier past the coordinate-plane budget. The
    coordinate-sign generator (``dedup_embedding_cos``) spends one of the
    64 embedding dimensions per plane, capping bands×bits at 64 and the
    occupancy rule at n ≈ 16·2³²; here each plane is an md5-seeded
    Rademacher projection (``rp_bands``), so the plane supply is
    UNLIMITED and ``_lsh_cfg_rp`` applies the log2(n/16) width rule with
    no clamp at all — the last width ceiling in the dedup/ANN tier,
    closed. Same sub-quadratic shape as the coordinate tier: keyed
    per-band self-join, pair-distinct, verify joins, cosine ≥ 0.3.

    The weights are a PINNED PUBLIC derivation each engine owns
    independently: Spark builds the ±1 matrix at plan-build time
    (hashlib md5 parity) and runs ONE Arrow-batched int64 matmul per
    batch over ``RP_Q``-quantized vectors (exact integer dots, so the
    matmul's summation order cannot diverge from the oracle's sequential
    BIGINT list_sum); the oracle re-derives the same weights in SQL
    (``_rp_sig_sql``), so either side drifting hash-fails the driver.
    Plane quality is load-bearing: correlated planes collapse the corpus
    into a few degenerate buckets and make the self-join quadratic
    again."""
    vecs, cand = _banded_cand(
        spark, sf_dir, cfg=_lsh_cfg_rp, keyfn=S.rp_bands
    )
    return (
        _scored_pairs(vecs, cand, "cos_sim")
        .filter(F.col("cos_sim") >= 0.3)
    )


def q_dedup_embedding_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_dedup_embedding_rp`` in result order (``dedup_recall_eval``
    joins the unordered rows)."""
    return order_result(_dedup_embedding_rp(spark, sf_dir), "id_a", "id_b")


def _rp_sig_sql(src: str, budget: int, planes: str) -> str:
    """CTEs ``w``, ``dots``, ``sig(vec_id, s)``: the random-hyperplane
    sign string of every vector of ``src`` (vec_id, v) over the planes
    p < ``planes`` (a scalar SQL expression), enumerated under the fixed
    range(0, ``budget``). Each ±1 weight is derived in SQL
    (``ext.similarity.rp_weight``'s md5 parity twin), and each dot runs on
    floor(v·``RP_Q``) BIGINTs, so it equals the Spark matmul by value."""
    return f"""w AS (
  SELECT p,
         list_transform(range(0, 64), i ->
           CASE WHEN instr('02468ace',
                           substr(md5('rp:' || p || ':' || i), 2, 1)) > 0
                THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END) AS wv
  FROM range(0, {budget}) t(p)
  WHERE p < {planes}
),
dots AS (
  SELECT r.vec_id, w.p,
         list_sum(list_transform(range(1, 65),
           i -> w.wv[i] * CAST(floor(r.v[i] * {S.RP_Q}) AS BIGINT)))
           AS dot
  FROM {src} r CROSS JOIN w
),
sig AS (
  SELECT vec_id,
         string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END,
                    '' ORDER BY p) AS s
  FROM dots GROUP BY vec_id
)"""


# raw + the fixed 4-band RP banding under the _lsh_cfg_rp width (the
# _RP_ORACLE_PLANES budget; the cfg raises past it).
_RP_SIG_CTES = f"""raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cfg AS (
  SELECT GREATEST(4, CAST(ceil(log2(count(*) / 16.0)) AS INT)) AS bits
  FROM embeddings
),
{_rp_sig_sql("raw", _RP_ORACLE_PLANES, "4 * (SELECT bits FROM cfg)")},
banded AS (
  SELECT vec_id, k AS band_idx,
         substr(s, CAST(k * (SELECT bits FROM cfg) + 1 AS INT),
                (SELECT bits FROM cfg)) AS band_key
  FROM sig CROSS JOIN range(0, 4) t(k)
)"""
_RP_CAND_CTES = f"""{_RP_SIG_CTES},
{_VEC_CAND_SQL}"""

ORACLE_DEDUP_RP = f"""
WITH {_RP_CAND_CTES}
{_pair_cos_sql("raw", 0.3)}
"""


QUERIES["dedup_embedding_rp"] = q_dedup_embedding_rp
ORACLE["dedup_embedding_rp"] = ORACLE_DEDUP_RP


# --------------------------------------------------------------------------
# knn_recall_rp — recall certification of the random-hyperplane tier
# --------------------------------------------------------------------------


def q_knn_recall_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the RANDOM-HYPERPLANE banded index against brute-force
    ground truth — the certification that closes the RP tier the way
    ``knn_recall_eval`` closed the coordinate tiers: a candidate
    generator is only as good as its measured recall, and the RP planes
    are a different hash family (dense md5-seeded Rademacher projections
    vs disjoint coordinate signs), so the coordinate-tier recall numbers
    do not transfer — this query measures the RP family's own.

    Composition, not re-derivation: the ground truth IS
    ``q_knn_bruteforce`` and the RP serving side is ``_banded_topk`` with
    the RP tier plugged in (the same ``_lsh_cfg_rp``/``rp_bands`` pair
    the ``dedup_embedding_rp`` generator uses, so the recall measured
    here certifies the exact keys the dedup self-join buckets on). The
    eval join's inputs are top-3 lists — 3 rows per query per side — so
    the eval itself costs nothing at any scale; the index builds are the
    sub-queries already optimized (query keys broadcast, corpus probed
    map-side, keygen one Arrow matmul).

    Reading the number: on THIS synthetic corpus the measured recall@3
    is LOW (~0.07 at sf0.1) — and that is the hash family working as
    specified, not failing. The corpus's true top-3 neighbors sit at
    cos ≈ 0.3-0.4 (theta ≈ 70°), where a single r-plane band collides
    with probability (1-theta/pi)^r ≈ 0.6^r — a few percent at the
    adaptive widths — and 4 bands only quadruple it. Sign-LSH families
    are DESIGNED to recall high-similarity pairs; ``dedup_recall_eval``
    bins recall by true similarity and shows exactly that curve, so the
    two queries together certify where the RP tier works and where it
    deliberately does not."""
    bf = _knn_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    rp = _banded_topk(spark, sf_dir, _lsh_cfg_rp, S.rp_bands).select(
        "query_id", "neighbor_id"
    )
    return _recall(
        bf, rp, bf.select("query_id").distinct(), ["query_id"],
        "recall_rp_at_3", 3, 4, "n_hits_rp",
    ).transform(order_result, "query_id")


ORACLE_KNN_RECALL_RP = f"""
WITH bf AS ({ORACLE_KNN_BRUTEFORCE}),
{_RP_SIG_CTES},
{_QPROBE_SQL},
{_topk_sql("rp", "qscored", ["query_id"], "score DESC", 3)},
qs AS (SELECT DISTINCT query_id FROM bf),
{_recall_sql("rec", "bf", "rp", "qs", ["query_id"], "recall_rp_at_3", 3, 4,
             "n_hits_rp")}
SELECT * FROM rec ORDER BY query_id
"""

QUERIES["knn_recall_rp"] = q_knn_recall_rp
ORACLE["knn_recall_rp"] = ORACLE_KNN_RECALL_RP


# --------------------------------------------------------------------------
# dedup_recall_eval — banded-generator pair recall, binned by similarity
# --------------------------------------------------------------------------

# Eval slice: ground truth is every pair whose LOWER id falls in the
# first 200 vectors — an unbiased estimator of corpus pair-recall whose
# cost is |slice| x n (LINEAR in the corpus), where full ground truth
# would be n^2. The slice is the eval budget, not a semantic knob.
_EVAL_SLICE = 200
_EVAL_EDGES = (0.9, 0.7, 0.5, 0.3)  # dedup_recall_eval's cosine bins
_TGT_EVAL_EDGES = (0.8, 0.65, 0.5, 0.3)  # dedup_recall_target_eval's bins


def _slice_truth(spark: SparkSession, vecs: DataFrame, cos: Column) -> DataFrame:
    """(id_a, id_b, cs) true pairs of the eval slice: id_a below
    ``_EVAL_SLICE``, id_a < id_b, cosine ``cs`` >= 0.3. Every column c of
    ``vecs`` but vec_id becomes c_a and c_b on the two sides; ``cos`` is
    the cosine over them. The bounded slice is broadcast against the
    corpus (|slice| x n, never n²). The corpus side is repartitioned
    before the join: the join folds |slice| cosines per corpus row, and a
    one-split embeddings file would otherwise put that whole pass on one
    core. ``_slice_truth_sql`` is its DuckDB twin."""
    cols = [c for c in vecs.columns if c != "vec_id"]
    a = vecs.filter(F.col("vec_id") < _EVAL_SLICE).select(
        F.col("vec_id").alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in cols]
    )
    b = vecs.select(
        F.col("vec_id").alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in cols]
    ).repartition(spark.sparkContext.defaultParallelism, "id_b")
    return (
        F.broadcast(a)
        .join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cs"))
        .filter(F.col("cs") >= 0.3)
    )


def _slice_truth_sql(src: str) -> str:
    """CTE ``truth(id_a, id_b, cs)``: ``_slice_truth`` over the vectors of
    ``src`` (vec_id, v), in DuckDB."""
    cos = _cos_sql("a.v", "b.v")
    return f"""truth AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cs
  FROM {src} a JOIN {src} b ON a.vec_id < b.vec_id
  WHERE a.vec_id < {_EVAL_SLICE} AND {cos} >= 0.3
)"""


def q_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-recall of BOTH banded dedup generators — coordinate signs
    (``dedup_embedding_cos``) and random hyperplanes
    (``dedup_embedding_rp``) — against brute-force ground truth, binned
    by true cosine similarity. This is the certification that matters
    for a DEDUP candidate generator: sign-LSH recall is similarity-
    dependent by construction (collision probability (1-theta/pi)^r per
    band), so a single recall number hides the design point — near-exact
    duplicates collide almost surely while marginal pairs at the 0.3
    threshold collide rarely. The binned curve (``_binned_recall``) makes
    that trade measured data (the faiss recall-curve discipline).

    Ground truth is ``_slice_truth`` of the raw corpus; the generators
    under eval are the registry queries themselves, filtered to the
    slice; the final agg is a 4-group rollup."""
    truth = _slice_truth(
        spark,
        _vecs(spark, sf_dir).select("vec_id", "v"),
        S.cosine(F.col("v_a"), F.col("v_b")),
    )
    hits = {
        x: h.filter(F.col("id_a") < _EVAL_SLICE)
        for x, h in (
            ("rp", _dedup_embedding_rp(spark, sf_dir)),
            ("coord", _dedup_embedding_cos(spark, sf_dir)),
        )
    }
    return _binned_recall(
        truth, "cs", _EVAL_EDGES, hits, ["id_a", "id_b"]
    ).transform(order_result, "sim_band")


ORACLE_DEDUP_RECALL = f"""
WITH raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
{_slice_truth_sql("raw")},
rp AS ({ORACLE_DEDUP_RP}),
co AS ({ORACLE_DEDUP_EMBEDDING}),
{_binned_recall_sql("rec", "truth", "cs", _EVAL_EDGES,
                    {"rp": "rp", "coord": "co"}, ["id_a", "id_b"])}
SELECT * FROM rec ORDER BY sim_band
"""

QUERIES["dedup_recall_eval"] = q_dedup_recall_eval
ORACLE["dedup_recall_eval"] = ORACLE_DEDUP_RECALL


# --------------------------------------------------------------------------
# dedup_embedding_rp_target — recall-TARGETED banding
# --------------------------------------------------------------------------

# Production near-dup target: catch pairs at cosine >= _TGT_COS with
# probability >= _TGT_RECALL. The (bands, bits) config is DERIVED from
# the target by a cost sweep over the bits (``_lsh_cfg_rp_target``):
# planes are free on the RP tier, so banding is the knob that makes
# recall a contract and cost a minimized consequence.
_TGT_COS = 0.8
_TGT_RECALL = 0.9

# Plane budget the TARGET tier's oracle enumerates (its own constant —
# the fixed-bands tier keeps _RP_ORACLE_PLANES=128). The sweep
# spends MORE bits than the occupancy floor when that cuts candidate
# volume (each extra bit at t=0.8 halves background collisions but
# costs only 1/p = 1.26x more bands), so the budget must cover the
# SWEPT config: b*r at the cost optimum is ~1065 at n~3e4, ~1921 at
# 9e4, ~3.4e3 at 1e6 (where the budget starts binding the sweep back
# toward the floor config — still valid, just less optimized). 4096
# keeps the sweep unconstrained through n ~ 3e5 and the cfg usable to
# n ~ 1e7; raise BOTH the constant and the oracle CTE (they share this
# constant via the f-string) to extend. When even the FLOOR config
# outgrows the budget the cfg RAISES rather than letting the engines
# hash-diverge (the _lsh_cfg_rp rule).
_RP_TGT_PLANES = 4096

# Sweep ceiling for row bits: n/2^(r+1) stays an EXACT double (and the
# oracle's 1::BIGINT << (r+1) stays in int64) for every r below this,
# and no real optimum lands past it — at t=0.8 the background floor
# n*2^-r <= 16 is reached by r = log2(n)-4, i.e. r=40 corresponds to
# n ~ 1.7e13 vectors.
_RP_TGT_SWEEP_MAX = 40

# Seeded high-similarity cohorts (the certification fixture): the
# synthetic corpus has essentially NO pairs above cosine 0.8 (989/990
# true pairs sit in 0.30-0.50 — dedup_recall_eval's measurement), so a
# >=0.8-recall certification needs planted positives. For the first
# _PLANT_N vectors, two perturbed copies are unioned in with pinned id
# offsets; multiplying dimension i by (1+e) for even i and (1-e) for
# odd i yields cos ~ (1+e*d)/sqrt(1+e^2+2*e*d) where d is the vector's
# even/odd energy imbalance (near 0): e=0.3 -> cos ~ 0.958, e=0.6 ->
# cos ~ 0.857 — straddling the 0.8 target from above. The factors are
# written as DECIMAL LITERALS (1.3/0.7, 1.6/0.4) parsed identically by
# both engines, and the parity is on the ZERO-BASED dimension index
# (Spark transform's i; (i-1) for DuckDB's 1-based list index), so the
# planted vectors are bit-identical doubles on both sides.
_PLANT_N = 50
_PLANT_COHORTS = ((1_000_000, "1.3", "0.7"), (2_000_000, "1.6", "0.4"))


def _qgrid(x: float, scale: float) -> float:
    """Quantize ``x`` (>0) to the 1/``scale`` grid with a HALF-UP tie rule:
    floor(x*scale + 0.5)/scale. Python's round() is banker's (half-even)
    while DuckDB's round() is half-away-from-zero, so a value landing on
    a grid midpoint would derive DIFFERENT band counts cross-engine
    (ADVICE r10). floor/+/*// are single IEEE operations — both engines
    compute bit-identical results from identical inputs, so the only
    residual divergence window is libm ulps in the TRANSCENDENTAL inputs
    (acos/pow/ln), collapsed by the grid except within ~1e-16 of a
    midpoint."""
    import math

    return math.floor(x * scale + 0.5) / scale


def _lsh_cfg_rp_target(
    n: int, threshold: float = _TGT_COS, recall: float = _TGT_RECALL
) -> tuple[int, int]:
    """(bands, row_bits) derived FROM a (cosine threshold, recall floor)
    target by a closed-form COST SWEEP (VERDICT r10 #4): for each row
    width r from the log2(n/16) occupancy floor up to
    ``_RP_TGT_SWEEP_MAX``, solve the recall contract
    b(r) = ceil(ln(1-recall)/ln(1-p^r)) at p = 1 - acos(threshold)/pi,
    then pick the r minimizing expected probe volume

        cost(r) = b(r) * (1 + n / 2^(r+1))

    — the sum of exploded band-key rows (n*b, the linear price of more
    bands) and expected background candidates (b * n^2/2 * p0^r at the
    background collision rate p0 = 1/2, i.e. n*b * n/2^(r+1)), in units
    of n. Every admissible (r, b(r)) satisfies the recall floor — pairs
    ABOVE the threshold collide with higher probability, so the floor
    certifies the whole >=threshold region at ANY swept r; the sweep
    only changes the PRICE. At t=0.8 (p=0.795) each bit above the floor
    halves background collisions but costs only 1.26x more bands, so
    the optimum sits several bits above the floor (e.g. r=15/b=71 at
    n~3e4 vs the floor's r=11/b=28 — ~6x fewer expected candidates for
    2.5x more key rows), until the ``b*r <= _RP_TGT_PLANES`` budget
    binds the sweep back toward the floor at very large n.

    Cross-engine determinism of the DERIVED (r, b): the oracle re-runs
    the identical sweep in SQL. Transcendentals (acos/pow/ln) may
    differ by ~1 ulp between libm builds, so both sides quantize p^r to
    the 1e-12 grid and the log ratio to the 1e-6 grid with the SAME
    half-up tie rule (``_qgrid`` — floor(x*s+0.5)/s on both engines;
    each engine's native round() has a different tie direction, ADVICE
    r10) before ceil. The cost compare itself uses only +,*,/ on exact
    inputs: n/2^(r+1) is an exact double (integer over a power of two,
    r <= 40), so cost(r) is bit-identical cross-engine and the argmin
    (ties broken toward smaller r) cannot diverge. b*r is monotone
    increasing in r, so the budget filter and the Python break agree.
    Domain: threshold and recall must sit strictly inside (0, 1) —
    threshold=1.0 would make p=1 and the log ratio degenerate to b=0.

    Candidate-volume price (the honest LSH math): the recall contract
    forces b ~ p^-r, and holding per-bucket background volume bounded
    forces r ~ log2(n) + O(1), so candidates ~ n^(1-lg p) (n^1.33 at
    t=0.8) for ANY config honoring both — the sweep shrinks the
    CONSTANT (~6x at these n), not the exponent; the exponent is what
    the guaranteed recall at a pinned threshold buys. The fixed-b tier
    (``_lsh_cfg_rp``) stays linear without the contract; the caller
    picks."""
    import math

    if not (0.0 < threshold < 1.0 and 0.0 < recall < 1.0):
        raise ValueError(
            f"target (threshold={threshold}, recall={recall}) must sit "
            "strictly inside (0, 1)"
        )
    floor_bits = max(4, math.ceil(math.log2(max(n, 1) / 16.0)))
    p = 1.0 - math.acos(threshold) / math.pi
    best: tuple[float, int, int] | None = None
    for r in range(floor_bits, _RP_TGT_SWEEP_MAX + 1):
        q = _qgrid(p**r, 1e12)
        if q <= 0.0:
            break  # band collision rounds to 0 — no finite b exists
        if q >= 1.0:
            continue  # threshold so high the grid saturates at this r
        b = math.ceil(
            _qgrid(math.log(1.0 - recall) / math.log(1.0 - q), 1e6)
        )
        if b * r > _RP_TGT_PLANES:
            if best is None and r == floor_bits:
                raise ValueError(
                    f"targeted RP tier needs {b * r} planes for n={n} "
                    f"at (threshold={threshold}, recall={recall}) but "
                    f"the oracle enumerates only {_RP_TGT_PLANES} — "
                    "raise _RP_TGT_PLANES (both sides derive from it) "
                    "before running a corpus this large"
                )
            break  # b*r is increasing in r — no later r re-qualifies
        cost = b * (1.0 + n / 2.0 ** (r + 1))
        if best is None or cost < best[0]:
            best = (cost, r, b)
    if best is None:
        raise ValueError(
            f"targeted RP tier found no admissible (bands, bits) for "
            f"n={n} at (threshold={threshold}, recall={recall}) within "
            f"{_RP_TGT_PLANES} planes"
        )
    return best[2], best[1]


def _aug_vecs(
    spark: SparkSession, sf_dir: str, n_raw: int | None = None
) -> DataFrame:
    """The corpus plus the two planted high-similarity cohorts (module
    comment above ``_PLANT_N``) — the certification fixture the targeted
    generator and its recall eval both run on. Row count is
    |embeddings| + 2*_PLANT_N by construction (no count job needed).

    Collision guard (ADVICE r10): the planted ids are corpus ids plus
    pinned offsets, so a corpus whose vec_ids reach the smallest offset
    would union DUPLICATE vec_ids and corrupt the scoring joins
    identically on both engines — invisible to the driver's hash
    compare. vec_ids are 0-based sequential in the oracle corpora
    (TESTDATA.md), so n reaching the offset is the collision condition;
    the footer-metadata count makes the guard free. Corpora past ~1e6
    vectors should run the RAW corpus through the targeted generator
    (``_banded_cand(vecs=...)``) — the planted fixture is the
    CERTIFICATION harness, not the production path. Callers that
    already read the footer count pass it via ``n_raw`` so the fixture
    costs no second read."""
    min_off = min(off for off, _hi, _lo in _PLANT_COHORTS)
    if n_raw is None:
        n_raw = metadata_row_count(spark, sf_dir, "embeddings")
    if n_raw >= min_off:
        raise ValueError(
            f"planted-cohort id offsets start at {min_off} but the "
            f"corpus has {n_raw} rows — planted vec_ids would collide "
            "with real ones; raise _PLANT_COHORTS offsets (both engines "
            "derive from them) or certify on a slice"
        )
    base = _vecs(spark, sf_dir).select("vec_id", "v")
    out = base
    for off, hi, lo in _PLANT_COHORTS:
        planted = base.filter(F.col("vec_id") < _PLANT_N).select(
            (F.col("vec_id") + F.lit(off)).alias("vec_id"),
            F.transform(
                F.col("v"),
                lambda x, i: x
                * F.when(i % 2 == 0, F.lit(float(hi))).otherwise(
                    F.lit(float(lo))
                ),
            ).alias("v"),
        )
        out = out.unionByName(planted)
    return out


def q_dedup_embedding_rp_target(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall-TARGETED near-duplicate pass: every pair at cosine >=
    ``_TGT_COS`` (0.8) is caught with probability >= ``_TGT_RECALL``
    (0.9) BY CONSTRUCTION — the band count is derived from the target
    (``_lsh_cfg_rp_target``) instead of pinned, which is what a
    production near-dup pass needs: a threshold and a recall floor are
    the contract, the banding is an implementation detail. Runs on the
    corpus + the planted high-similarity cohorts (``_aug_vecs``) because
    the synthetic corpus has no >=0.8 pairs to certify against; the
    planted pairs ARE the certification — the output exhibits them, the
    oracle re-derives them, and the driver hash compares both. Swap the
    raw corpus in via ``_banded_cand(vecs=...)`` for production use.

    Same sub-quadratic plan as ``dedup_embedding_rp`` (keyed per-band
    self-join, pair-DISTINCT before scoring, no corpus broadcast, keygen
    ONE cached Arrow int64 matmul) — only the (bands, bits) config and
    the verify threshold differ. The derived band count is certified by
    ``dedup_recall_target_eval``, which emits it as a hashed column."""
    n_raw = metadata_row_count(spark, sf_dir, "embeddings")
    n_aug = n_raw + 2 * _PLANT_N
    vecs, cand = _banded_cand(
        spark,
        sf_dir,
        cfg=_lsh_cfg_rp_target,
        keyfn=S.rp_bands,
        vecs=_aug_vecs(spark, sf_dir, n_raw=n_raw),
        n=n_aug,
    )
    return (
        _scored_pairs(vecs, cand, "cos_sim")
        .filter(F.col("cos_sim") >= _TGT_COS)
        .transform(order_result, "id_a", "id_b")
    )


def _aug_sql() -> str:
    """aug(vec_id, v): the oracle twin of ``_aug_vecs`` — corpus plus the
    planted cohorts, factors as the same decimal literals, parity on the
    zero-based dimension index ((i-1) under 1-based list indexing)."""
    cohorts = "\n  UNION ALL\n".join(
        f"""  SELECT vec_id + {off} AS vec_id,
         list_transform(range(1, 65), i -> (embedding::DOUBLE[])[i] *
           CASE WHEN (i - 1) % 2 = 0 THEN {hi} ELSE {lo} END) AS v
  FROM embeddings WHERE vec_id < {_PLANT_N}"""
        for off, hi, lo in _PLANT_COHORTS
    )
    return f"""aug AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
{cohorts}
)"""


def _rp_cfg_sweep_sql(src: str) -> str:
    """The SQL twin of ``_lsh_cfg_rp_target``'s cost sweep, as a scalar
    (bands, bits) SELECT over the row source ``src`` (n = count(*) of
    it). Same quantization grids with the same half-up tie rule
    (floor(x*s+0.5)/s), the same exact-double cost arithmetic
    (n / 2^(r+1) is an integer over a power of two), the same budget
    filter, argmin with ties toward smaller r. Shared by the targeted
    CTEs and the cross-engine parity test so the twin cannot drift."""
    return f"""SELECT bands, bits FROM (
    SELECT r AS bits, b AS bands,
           b * (1.0 + CAST(n AS DOUBLE)
                      / CAST(1::BIGINT << (r + 1) AS DOUBLE)) AS cost
    FROM (
      SELECT t.r, s.n,
             CAST(ceil(floor(ln(1.0 - {_TGT_RECALL}) / ln(1.0 - t.q)
                             * 1e6 + 0.5) / 1e6) AS INT) AS b
      FROM (
        SELECT r,
               floor(pow(1.0 - acos({_TGT_COS}) / pi(), r) * 1e12 + 0.5)
                 / 1e12 AS q
        FROM range(4, {_RP_TGT_SWEEP_MAX + 1}) t(r)
      ) t
      CROSS JOIN (SELECT count(*) AS n,
                         GREATEST(4, CAST(ceil(log2(count(*) / 16.0))
                                          AS INT)) AS fb
                  FROM {src}) s
      WHERE t.r >= s.fb AND t.q > 0.0 AND t.q < 1.0
    )
    WHERE b * r <= {_RP_TGT_PLANES}
  )
  ORDER BY cost, bits LIMIT 1"""


# Target-tier chain: _RP_SIG_CTES over the augmented corpus, with
# (bands, bits) derived in SQL by the cost sweep and the plane/band
# fan-outs driven by the cfg scalars under the fixed _RP_TGT_PLANES
# enumeration (the portable-subset device: fixed range x scalar filter).
_RP_TGT_CTES = f"""{_aug_sql()},
cfg AS (
  {_rp_cfg_sweep_sql("aug")}
),
{_rp_sig_sql("aug", _RP_TGT_PLANES, "(SELECT bands * bits FROM cfg)")},
tb AS (
  SELECT k FROM range(0, {_RP_TGT_PLANES}) t(k)
  WHERE k < (SELECT bands FROM cfg)
),
banded AS (
  SELECT vec_id, k AS band_idx,
         substr(s, CAST(k * (SELECT bits FROM cfg) + 1 AS INT),
                (SELECT bits FROM cfg)) AS band_key
  FROM sig CROSS JOIN tb
),
{_VEC_CAND_SQL}"""

ORACLE_DEDUP_RP_TARGET = f"""
WITH {_RP_TGT_CTES}
{_pair_cos_sql("aug", _TGT_COS)}
"""

QUERIES["dedup_embedding_rp_target"] = q_dedup_embedding_rp_target
ORACLE["dedup_embedding_rp_target"] = ORACLE_DEDUP_RP_TARGET


# --------------------------------------------------------------------------
# dedup_recall_target_eval — certify the targeted tier's recall contract
# --------------------------------------------------------------------------


def q_dedup_recall_target_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binned pair-recall of the TARGETED generator
    (``dedup_embedding_rp_target``) against brute-force ground truth
    over the seeded corpus — the certification that the derived band
    count delivers the contract: recall in the >=0.8-cosine bin must
    clear 0.9 (pinned by test at sf0.1). The derived (bands, bits) pair
    rides along as hashed OUTPUT columns, so the driver certifies that
    both engines derived the SAME config from the same (threshold,
    recall) target — the derivation itself is under the hash, not just
    its effects.

    Scale shape: ground truth broadcasts the bounded eval slice against
    the corpus (|slice| x n, LINEAR — never n^2 all-pairs); hits come
    from the generator's CANDIDATE set (pre-verify), which is what the
    1-(1-p^r)^b math predicts per bin; ``_binned_recall`` rolls up 4
    bins. The planted cohorts give the >=0.8 bin real members (the raw
    synthetic corpus has ~none)."""
    n_raw = metadata_row_count(spark, sf_dir, "embeddings")
    n_aug = n_raw + 2 * _PLANT_N
    bands, bits = _lsh_cfg_rp_target(n_aug)
    vecs, cand = _banded_cand(
        spark,
        sf_dir,
        cfg=_lsh_cfg_rp_target,
        keyfn=S.rp_bands,
        vecs=_aug_vecs(spark, sf_dir, n_raw=n_raw),
        n=n_aug,
    )
    truth = _slice_truth(
        spark,
        vecs,
        F.round(
            S.dot(F.col("v_a"), F.col("v_b"))
            / (F.col("nrm_a") * F.col("nrm_b")),
            6,
        ),
    )
    hits = {"tgt": cand.filter(F.col("id_a") < _EVAL_SLICE)}
    return (
        _binned_recall(truth, "cs", _TGT_EVAL_EDGES, hits, ["id_a", "id_b"])
        .withColumn("bands_used", F.lit(int(bands)).cast("long"))
        .withColumn("bits_used", F.lit(int(bits)).cast("long"))
        .transform(order_result, "sim_band")
    )


ORACLE_DEDUP_RECALL_TARGET = f"""
WITH {_RP_TGT_CTES},
{_slice_truth_sql("aug")},
{_binned_recall_sql("rec", "truth", "cs", _TGT_EVAL_EDGES, {"tgt": "cand"},
                    ["id_a", "id_b"])}
SELECT rec.*,
       CAST((SELECT bands FROM cfg) AS BIGINT) AS bands_used,
       CAST((SELECT bits FROM cfg) AS BIGINT) AS bits_used
FROM rec ORDER BY sim_band
"""

QUERIES["dedup_recall_target_eval"] = q_dedup_recall_target_eval
ORACLE["dedup_recall_target_eval"] = ORACLE_DEDUP_RECALL_TARGET


# --------------------------------------------------------------------------
# semdedup_rp — the clustering family on the unlimited-plane substrate
# --------------------------------------------------------------------------


def q_semdedup_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep decision on the RANDOM-HYPERPLANE mutual-kNN
    substrate: identical pipeline to ``semdedup_mutual``
    — mutual top-3 edges → connected components → integer-exact
    centroid → keep/drop — but the candidate generator is the RP banded
    tier (``_lsh_cfg_rp``/``rp_bands``), so the clustering family rides
    the UNLIMITED plane supply instead of the 64-coordinate budget: the
    occupancy rule (log2(n/16) bits/band) never saturates, at any
    corpus size. The coordinate tier keeps ``semdedup_mutual``
    unchanged; this query certifies that the substrate swap is a config,
    not a rewrite — the generator, mutual window, star CC, and keep
    decision are all the same shared code paths (``_mutual_edges``,
    ``_semdedup_keep``), and the oracle reuses the same CTE chains with
    only the candidate tier swapped (``_RP_CAND_CTES``).

    Plan shape inherits every pinned discipline: keygen is ONE
    scope-cached Arrow int64 matmul (the keygen-once pin), the banded
    self-join is keyed with NO corpus broadcast, components run
    alternating large/small-star with per-round lineage truncation."""
    return _semdedup_keep(
        spark,
        sf_dir,
        _mutual_edges(
            spark, sf_dir, cfg=_lsh_cfg_rp, keyfn=S.rp_bands
        ).select("src", "dst"),
    )


QUERIES["semdedup_rp"] = q_semdedup_rp
ORACLE["semdedup_rp"] = _oracle_semdedup(_RP_CAND_CTES)


# --------------------------------------------------------------------------
# knn_ivf_recall_curve — the IVF tier's measured (recall, cost) curve
# --------------------------------------------------------------------------

# nprobe settings the curve measures. The trained centroid set is
# _IVF_K = 10 cells, so 1/2/4 probes span a 10%-40% scan fraction — the
# region a production tuner actually picks from.
_IVF_CURVE_NPROBES = (1, 2, 4)


def q_knn_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured (recall@3, scan-fraction) curve of the IVF index across
    nprobe ∈ {1, 2, 4} — the recall evidence the IVF tier was missing.

    The LSH tiers carry DERIVED recall contracts (the S-curve is closed
    form, so (bands, rows) follow from a (threshold, recall) target —
    ``_lsh_cfg_rp_target`` / ``_lsh_cfg_minhash_target``). IVF recall
    has no closed form — it depends on how the data clusters around the
    trained centroids — so the production discipline is the inverse:
    MEASURE the recall/cost curve on the served index and pick the
    nprobe that clears the floor. This query is that tuner: for each
    nprobe it reports recall@3 against the exact brute-force top-3 and
    the scanned fraction of the corpus (the cost axis), one row per
    nprobe, both ratios as single exact-integer divisions so the curve
    is bit-identical cross-engine.

    Scale posture: the query slice is bounded (``_N_QUERIES``,
    broadcast); the probe join is keyed by cell (never all-pairs); the
    exact side is the |slice| × n linear truth pass — the same
    discipline as ``dedup_recall_eval``; the corpus count comes from
    parquet footers (zero pre-query jobs). The curve's candidate frame
    is scope-cached: it feeds both the top-k ranking and the
    scanned-volume aggregate."""
    n_corpus = metadata_row_count(spark, sf_dir, "embeddings")
    cent, assigned = _ivf_cells(spark, sf_dir)
    qcells = _probe_cells(assigned, cent)
    # candidates: query side broadcast (bounded by _N_QUERIES x nprobe),
    # corpus side keyed by cell. Each vector lives in exactly ONE cell,
    # so (query_id, neighbor_id) pairs are distinct by construction.
    cand = (
        F.broadcast(qcells)
        .join(
            assigned,
            (F.col("cell") == F.col("qcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "cellrank",
            F.col("vec_id").alias("neighbor_id"),
            S.cosine(F.col("qv"), F.col("v")).alias("score"),
        )
    )
    # exact truth: |slice| x n brute force over the same assigned frame
    truth = _truth(
        assigned,
        S.cosine(F.col("qv"), F.col("v")).alias("score"),
        F.col("score").desc(),
    )
    return _probe_curve(
        track_cache(cand), F.col("score").desc(), truth, n_corpus
    )


def _probe_cells(assigned: DataFrame, cent: DataFrame) -> DataFrame:
    """Each query's ``max(_IVF_CURVE_NPROBES)`` nearest cells
    (query_id, qv, qcell, cellrank) by cosine against the bounded,
    broadcast centroid set, ties to the smaller cell id."""
    q = assigned.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = q.join(F.broadcast(cent)).select(
        "query_id",
        "qv",
        "clabel",
        S.cosine(F.col("qv"), F.col("cv")).alias("cscore"),
    )
    return _topk(
        scored,
        ["query_id"],
        F.col("cscore").desc(),
        max(_IVF_CURVE_NPROBES),
        "cellrank",
        "clabel",
    ).select("query_id", "qv", F.col("clabel").alias("qcell"), "cellrank")


def _probe_curve(
    cand: DataFrame, order: Column, truth: DataFrame, n_corpus: int
) -> DataFrame:
    """One (nprobe, recall_at3, scan_frac) row per ``_IVF_CURVE_NPROBES``
    entry from the candidates of the probed cells (query_id, cellrank,
    neighbor_id, score columns): a candidate in the query's r-th cell
    serves every nprobe >= r; top-3 per (nprobe, query) under ``order``
    against ``truth``, scan fraction from the candidate count."""
    pc = _widen(cand, "nprobe", _IVF_CURVE_NPROBES, "cellrank")
    top3 = _topk(pc, ["nprobe", "query_id"], order, 3).select(
        "nprobe", "query_id", "neighbor_id"
    )
    scanned = pc.groupBy("nprobe").agg(F.count("*").alias("total_scanned"))
    return (
        _recall(truth, top3, scanned, ["nprobe"])
        .select("nprobe", "recall_at3", _scan_frac("total_scanned", n_corpus))
        .transform(order_result, "nprobe")
    )


# ``_probe_cells`` in DuckDB, over the ``assigned`` and ``cent`` CTEs
_PROBE_CELLS_SQL = f"""q AS (SELECT vec_id AS query_id, v AS qv FROM assigned
      WHERE vec_id < {_N_QUERIES}),
qcell_scored AS (
  SELECT q.query_id, q.qv, cent.clabel,
         {_cos_sql("q.qv", "cent.cv")} AS cscore
  FROM q CROSS JOIN cent
),
{_topk_sql(
    "qcells", "qcell_scored", ["query_id"], "cscore DESC",
    max(_IVF_CURVE_NPROBES), "query_id, qv, clabel AS qcell, cellrank",
    rank="cellrank", tie="clabel",
)}"""


def _probe_curve_sql(cand: str, order: str) -> str:
    """``_probe_curve`` in DuckDB: the CTE tail and final SELECT after a
    statement that defines ``cand``, ``exact3`` and ``vecs``."""
    pc = _widen_sql("pc", cand, "nprobe", _IVF_CURVE_NPROBES, "cellrank")
    return f"""{pc},
{_topk_sql("top3", "pc", ["nprobe", "query_id"], order, 3,
           "nprobe, query_id, neighbor_id")},
scanned AS (SELECT nprobe, count(*) AS total_scanned FROM pc GROUP BY 1),
{_recall_sql("rec", "exact3", "top3", "scanned", ["nprobe"])}
SELECT nprobe, recall_at3, {_scan_frac_sql("total_scanned")}
FROM rec ORDER BY nprobe"""


ORACLE_KNN_IVF_CURVE = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ivf_train_sql()},
{_PROBE_CELLS_SQL},
cand AS (
  SELECT qc.query_id, qc.cellrank, a.vec_id AS neighbor_id,
         {_cos_sql("qc.qv", "a.v")} AS score
  FROM qcells qc JOIN assigned a
    ON a.cell = qc.qcell AND a.vec_id <> qc.query_id
),
{_truth_sql(_cos_sql("q.v", "c.v"), True, "assigned")},
{_probe_curve_sql("cand", "score DESC")}
"""

QUERIES["knn_ivf_recall_curve"] = q_knn_ivf_recall_curve
ORACLE["knn_ivf_recall_curve"] = ORACLE_KNN_IVF_CURVE


# --------------------------------------------------------------------------
# knn_ivf_nlist_sweep — the OTHER IVF knob, measured (round 12)
# --------------------------------------------------------------------------

# nlist values bracketing the √n rule on the oracle corpora
# (√500 ≈ 22, √2000 ≈ 45); 10 is the served index's fixed K.
_IVF_NLIST_SWEEP = (10, 22, 45)


def q_knn_ivf_nlist_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured (nlist, recall@3, scan-fraction) trade of the TRAINED IVF
    index at nprobe = 1 — the companion knob to ``knn_ivf_recall_curve``
    (which sweeps nprobe at fixed nlist). ``_ivf_cells`` pins nlist = 10
    so the curve stays comparable round-over-round, but a FIXED cell
    count means per-query scan grows linearly with the corpus; the
    production rule is nlist ~ √n (FAISS), and this query prices that
    retune instead of leaving it a docstring claim: one full k-means
    train + assign + search per swept nlist, each a bounded chain
    (k-row centroid supersteps, cell-keyed candidate join, the shared
    |slice|×n exact truth pass).

    Measured verdict (sf0.1, n=2000): nlist 10 → 45 cuts the scanned
    fraction 4.5× (0.100 → 0.023) for −0.067 recall@3 (0.967 → 0.900);
    at sf0.01 nlist 22 ≈ √n is even recall-POSITIVE (0.933 vs 0.900 at
    half the scan) — i.e. on this corpus the √n rule buys its scan
    savings nearly free, and the harness will re-price that when the
    corpus changes. Ratios are exact-integer divisions; centroids train
    exactly as ``_ivf_train`` and the oracle replays one CTE chain per
    swept nlist."""
    n_corpus = metadata_row_count(spark, sf_dir, "embeddings")
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    score = S.cosine(F.col("qv"), F.col("v")).alias("score")
    truth = track_cache(
        _truth(vecs, score, F.col("score").desc()).select(
            "query_id", "neighbor_id"
        )
    )
    rows = []
    for k in _IVF_NLIST_SWEEP:
        _cent, assigned = _ivf_train(vecs, k)
        qk = assigned.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("cell").alias("qcell"),
        )
        cand = track_cache(
            F.broadcast(qk)
            .join(
                assigned,
                (F.col("cell") == F.col("qcell"))
                & (F.col("vec_id") != F.col("query_id")),
            )
            .select(
                "query_id", F.col("vec_id").alias("neighbor_id"), score
            )
        )
        top3 = _topk(cand, ["query_id"], F.col("score").desc(), 3)
        rows.append(
            _recall(truth, top3)
            .crossJoin(F.broadcast(cand.agg(F.count("*").alias("sc"))))
            .select(
                F.lit(k).cast("long").alias("nlist"),
                "recall_at3",
                _scan_frac("sc", n_corpus),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("nlist")


def _oracle_nlist_sweep() -> str:
    chains = ",\n".join(
        _ivf_train_sql(
            k=k, prefix=f"n{k}", cent=f"cent{k}", assigned=f"asg{k}"
        )
        for k in _IVF_NLIST_SWEEP
    )
    per_k = "\nUNION ALL\n".join(
        f"""SELECT CAST({k} AS BIGINT) AS nlist, recall_at3,
       {_scan_frac_sql("sc")}
FROM rec_{k}"""
        for k in _IVF_NLIST_SWEEP
    )
    cand_ctes = ",\n".join(
        f"""cand_{k} AS (
  SELECT qk.query_id, a.vec_id AS neighbor_id,
         {_cos_sql("qk.qv", "a.v")} AS score
  FROM (SELECT vec_id AS query_id, v AS qv, cell AS qcell FROM asg{k}
        WHERE vec_id < {_N_QUERIES}) qk
  JOIN asg{k} a ON a.cell = qk.qcell AND a.vec_id <> qk.query_id),
{_topk_sql(f"top3_{k}", f"cand_{k}", ["query_id"], "score DESC", 3)},
sc_{k} AS (SELECT count(*) AS sc FROM cand_{k}),
{_recall_sql(f"rec_{k}", "exact3", f"top3_{k}", f"sc_{k}")}"""
        for k in _IVF_NLIST_SWEEP
    )
    return f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_truth_sql(_cos_sql("q.v", "c.v"), True)},
{chains},
{cand_ctes}
{per_k}
ORDER BY nlist
"""


QUERIES["knn_ivf_nlist_sweep"] = q_knn_ivf_nlist_sweep
ORACLE["knn_ivf_nlist_sweep"] = _oracle_nlist_sweep()


# --------------------------------------------------------------------------
# knn_pq_recall_eval — recall evidence for the PQ compression tiers
# --------------------------------------------------------------------------

_PQ_EVAL_TIERS = ("ivfpq", "pq_adc")


def q_knn_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the two PRODUCT-QUANTIZATION tiers against the exact
    L2 ground truth — the last ANN family without recall evidence
    (sign-LSH/RP carry measured evals, the targeted tiers carry derived
    contracts, IVF carries the nprobe curve; the PQ tiers' loss axis is
    QUANTIZATION DISTORTION, measured here).

    ``pq_adc`` scans the full corpus through the 4-code ADC
    approximation, so its recall shortfall is pure codebook distortion;
    ``ivfpq`` adds the nprobe=1 cell restriction on top, so the spread
    between the two rows decomposes the loss (distortion vs cell miss)
    — the decomposition a production tuner reads before spending memory
    on finer codebooks vs more probes. The approximate sides are the
    REGISTRY QUERIES THEMSELVES (``q_knn_pq_adc``/``q_knn_ivfpq``) and
    the oracle embeds those tiers' own oracle texts as subqueries, so
    the eval can never drift from what the tiers actually serve. Ground
    truth is exact squared-L2 top-3 under the tiers' own convention
    (self excluded, d2 rounded 6 dp, ties to the smaller id) over the
    bounded query slice — the |slice| x n linear truth pass. The recall
    ratio is one exact-integer IEEE division (k/30 never lands on a
    6 dp rounding midpoint).

    Measured verdict: the r11 label-mean demo codebook (4 subspaces x
    10 codewords) priced at recall@3 = 0.0333 on both tiers — all
    distortion, no cell-miss — which is exactly what this harness was
    built to expose. Round 12 earned the recall: TRAINED per-subspace
    k-means codebooks (``_pq_codebook``: 32 subspaces x 256 codewords,
    2 Lloyd iterations over a footer-stride sample) measured
    pq_adc = 0.767/0.900/0.833 at sf0.001/0.01/0.1 with ivfpq at
    0.767/0.833/0.800. Round 13 added the OPQ-lite balanced subspace
    assignment (``_pq_opq_map``, adopted per the ``knn_pq_opq_eval``
    rule): pq_adc = 0.900/0.967/0.867, ivfpq = 0.833/0.900/0.867 —
    at sf0.1 one probe now matches the full-scan ADC recall outright,
    and the remaining decomposition reads: distortion is still the
    dominant loss, cell-miss costs ≤0.067 at the smaller scales."""
    # the promoted truth artifact: 30 rows, one corpus truth pass per
    # process (shared with the curve/residual/opq evals)
    exact3 = _pq_exact3_t(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        _knn_ivfpq(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("tier", F.lit(_PQ_EVAL_TIERS[0]))
        .unionByName(
            _knn_pq_adc(spark, sf_dir)
            .select("query_id", "neighbor_id")
            .withColumn("tier", F.lit(_PQ_EVAL_TIERS[1]))
        )
    )
    tiers = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in _PQ_EVAL_TIERS])
        ).alias("tier")
    )
    return _recall(exact3, approx, tiers, ["tier"]).transform(
        order_result, "tier"
    )


# exact squared L2 between ``q.v`` and ``c.v``, rounded 6 dp (``S.l2sq``)
_L2_SQL = (
    "round(list_sum(list_transform(list_zip(q.v, c.v),"
    " x -> (x[1] - x[2]) * (x[1] - x[2]))), 6)"
)

# ``_pq_exact3_t`` in DuckDB: the PQ tiers' exact-L2 truth
_PQ_EXACT3_SQL = _truth_sql(_L2_SQL, False)

# The approximate sides embed the tiers' OWN oracle texts as subqueries
# — the eval's oracle cannot drift from the tiers it certifies.
ORACLE_KNN_PQ_RECALL = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_PQ_EXACT3_SQL},
approx AS (
  SELECT '{_PQ_EVAL_TIERS[0]}' AS tier, query_id, neighbor_id
  FROM ({ORACLE_KNN_IVFPQ}) ivfpq_t
  UNION ALL
  SELECT '{_PQ_EVAL_TIERS[1]}' AS tier, query_id, neighbor_id
  FROM ({ORACLE_KNN_PQ_ADC}) pq_adc_t
),
tiers AS (SELECT '{_PQ_EVAL_TIERS[0]}' AS tier
          UNION ALL SELECT '{_PQ_EVAL_TIERS[1]}'),
{_recall_sql("rec", "exact3", "approx", "tiers", ["tier"])}
SELECT * FROM rec ORDER BY tier
"""

QUERIES["knn_pq_recall_eval"] = q_knn_pq_recall_eval
ORACLE["knn_pq_recall_eval"] = ORACLE_KNN_PQ_RECALL


# --------------------------------------------------------------------------
# knn_pq_residual_eval — the by_residual decision, priced (round 13)
# --------------------------------------------------------------------------

_PQ_RESIDUAL_VARIANTS = ("raw", "residual")


def _ivf_residuals(cent: DataFrame, assigned: DataFrame) -> DataFrame:
    """Residual frame ``x − centroid(cell(x))`` — one broadcast join of
    the corpus assignment against the bounded centroid table plus an
    exact IEEE ``zip_with`` subtraction. Both inputs are deterministic
    (centroids round-trip at 6 dp through the training chain), so the
    DuckDB oracle replays the subtraction bit-for-bit."""
    return assigned.join(
        F.broadcast(cent), F.col("cell") == F.col("clabel")
    ).select(
        "vec_id",
        F.zip_with("v", "cv", lambda a, b: a - b).alias("v"),
    )


def _pq_variant(
    col: str,
    name: str,
    sub: DataFrame,
    cb: DataFrame,
    truth: DataFrame,
    cells: DataFrame | None = None,
) -> DataFrame:
    """One (``col`` = ``name``, recall_at3, mean_recon_d2) row of a PQ
    variant eval: the subvector stream ``sub`` encoded against codebook
    ``cb``, ADC top-3 per query scored against ``truth``, and the mean
    reconstruction error of the codes served. ``cells`` restricts each
    query's scan to its home IVF cell (the ``knn_ivfpq`` convention);
    without it the scan is full (``knn_pq_adc``).

    The encode argmin and the LUT are local checkpoints, not caches:
    lazy frames here are referenced by several concurrently-building
    broadcast subtrees, whose threads race to recompute the n×M×K encode
    chain (a heap OOM in a bare 1 GiB session at sf0.1), and truncation
    spares the driver re-analyzing the evals' composite of several
    trained chains on every build. Blocks are scope-tracked
    (io.track_local_checkpoint)."""
    # one argmin pass feeds both the served code table and the
    # winning-codeword d2 the distortion mean aggregates
    best = track_local_checkpoint(
        sub.join(F.broadcast(cb), "m")
        .select(
            "vec_id",
            "m",
            F.struct(
                _pq_d2().alias("d2"), F.col("code").alias("code")
            ).alias("sc"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min("sc").alias("b"))
        .select(
            "vec_id",
            "m",
            F.col("b.code").alias("code"),
            F.col("b.d2").alias("d2"),
        )
    )
    recon = (
        best.groupBy("vec_id")
        .agg(F.sum("d2").alias("vd2"))
        .agg(F.round(F.avg("vd2"), 6).alias("mean_recon_d2"))
    )
    codes, lut = best.select("vec_id", "m", "code"), _pq_qlut(sub, cb)
    on = None
    if cells is not None:
        codes, lut, on = _with_cells(codes, lut, cells)
    adc = _adc(codes, track_local_checkpoint(lut), on)
    top3 = _topk(adc, ["query_id"], F.col("adc_d2").asc(), 3)
    frame = sub.sparkSession.range(1).select(F.lit(name).alias(col))
    return _recall(truth, top3, frame).crossJoin(F.broadcast(recon))


def _pq_variant_sql(p: str, col: str, name: str) -> str:
    """``_pq_variant`` in DuckDB: CTE ``{p}_rec(col, mean_recon_d2,
    recall_at3)`` over the chain ``_pq_train_sql(prefix=p)`` emits, an
    ``{p}_adc`` CTE (``_adc_sql``) and ``exact3``."""
    return f"""{p}_recon AS (
  SELECT '{name}' AS {col}, round(avg(vd2), 6) AS mean_recon_d2 FROM (
    SELECT vec_id, sum(d2) AS vd2 FROM {p}_codes GROUP BY 1)),
{_topk_sql(f"{p}_top3", f"{p}_adc", ["query_id"], "adc_d2 ASC", 3)},
{_recall_sql(f"{p}_rec", "exact3", f"{p}_top3", f"{p}_recon")}"""


def _on_threads(spark: SparkSession, *builds) -> list:
    """Run independent eager builds on concurrent driver threads and
    return their results in order. The evals' variant chains share no
    lineage (each is deterministic in isolation: seeded training,
    promoted artifacts built under io's lock), so overlapping their
    checkpoints and training supersteps changes wall clock, never
    values. Each build runs under a copy of the caller's context, so what
    it tracks lands in the caller's query scope (io.current_scope)."""
    from concurrent.futures import ThreadPoolExecutor
    from contextvars import copy_context

    from pyspark import inheritable_thread_target

    current_scope()  # created here, so every context copy below shares it
    with ThreadPoolExecutor(max_workers=len(builds)) as pool:
        futs = [
            pool.submit(copy_context().run, inheritable_thread_target(spark)(b))
            for b in builds
        ]
        return [f.result() for f in futs]


def q_knn_pq_residual_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-vs-RESIDUAL PQ training, priced head-to-head (VERDICT r12 #3):
    canonical IVFADC (Jégou/Douze/Schmid §III.C) quantizes the residual
    ``x − centroid(cell(x))`` — the win presumes the coarse quantizer
    removes real variance. This eval measures BOTH variants under the
    exact ``knn_ivfpq`` serving convention (same cells, same nprobe=1
    candidate sets, same ADC arithmetic — only the codebook training
    input differs) and reports, per variant:

    - ``recall_at3`` against the exact-L2 truth (the tier's loss axis);
    - ``mean_recon_d2`` — mean reconstruction error of the codes
      actually served, Σ_m ||x_m − codeword||² averaged over the corpus
      (the distortion the recall flows through; for the residual
      variant the reconstruction is ``centroid + decode``, so the two
      numbers are directly comparable);
    - ``coarse_rss_ratio`` — Σ||x − centroid(cell)||² / Σ||x − x̄||²,
      the fraction of variance the coarse quantizer does NOT remove:
      the mechanism number that predicts which variant wins.

    Measured verdict (sf0.001/0.01/0.1, under the SERVED OPQ-lite
    assignment — one map for both variants, so the eval isolates the
    training input): coarse_rss_ratio 0.9249/0.9258/0.9480 — the 10
    cosine cells on this label-unstructured corpus remove only 5-7.5%
    of L2 variance. The residual codebooks DO cut mean reconstruction
    distortion (0.004143→0.003683 / 0.004005→0.003866 /
    0.011768→0.010926 — a 3.5-11% cut, i.e. roughly the removed
    variance minus the per-subspace cost of quantizing a 10-shift
    MIXTURE), but a few-percent distortion cut is far inside the top-3
    ranking noise: recall reads 0.800/0.833/0.833 (residual) vs
    0.833/0.900/0.867 (raw); the pre-OPQ identity assignment read the
    same sign (0.700/0.833/0.733 vs 0.767/0.833/0.800), flat across a
    4×-sample / 2×-iteration training sweep (residual reached raw
    parity only at 4 Lloyd iters × 2048 samples — 4× the training
    bill). ``knn_ivfpq`` therefore ships ``by_residual`` OFF, with this
    eval as the standing price tag: on a clustered corpus (ratio well
    below ~0.8, distortion cut proportionally larger) the decision
    flips, and the flip is one measured re-run, not a redesign.

    Scale posture: everything the standalone tiers prove carries over
    (bounded training samples, broadcast codebooks/LUTs, cell-
    restricted scans, the pre-amplification repartition in
    ``_pq_sub_pivot``);
    the eval adds one corpus-linear cached code table per variant and
    the |queries|×n truth pass. Cross-engine float caveat: the two
    corpus-wide means (``mean_recon_d2``, the RSS/TSS sums) share the
    partition-order-vs-sequential summation risk documented on
    ``_pq_codebook``; at the certified scales the reassociation error
    (~n·eps·Σ|x|) sits orders of magnitude inside the 6-dp rounding,
    and the per-dimension global mean is pre-rounded at 6 dp on both
    engines."""
    cent, assigned = _ivf_cells(spark, sf_dir)
    # cells are a local checkpoint like the variants' frontiers
    # (``_pq_variant``): the four trained chains this eval composes would
    # otherwise be re-analyzed on every build
    cells = track_local_checkpoint(assigned.select("vec_id", "cell"))
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    rvecs = _ivf_residuals(cent, assigned)
    stride = _pq_train_stride(spark, sf_dir)
    # the promoted truth artifact (30 rows, one truth pass per process)
    truth = _pq_exact3_t(spark, sf_dir).select("query_id", "neighbor_id")

    # coarse variance capture: RSS/TSS (per-dimension global mean
    # pre-rounded 6 dp — makes the mean EXACTLY equal cross-engine)
    rss = rvecs.select(
        F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x).alias("s")
    ).agg(F.sum("s").alias("rss"))
    gm = (
        vecs.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.round(F.avg("x"), 6).alias("gx"))
    )
    tss = (
        vecs.select(F.posexplode("v").alias("pos", "x"))
        .join(F.broadcast(gm), "pos")
        .agg(
            F.sum(
                (F.col("x") - F.col("gx")) * (F.col("x") - F.col("gx"))
            ).alias("tss")
        )
    )
    ratio_lazy = rss.crossJoin(tss).select(
        F.round(F.col("rss") / F.col("tss"), 6).alias("coarse_rss_ratio")
    )

    # ONE assignment for both variants — the subspace map is part of
    # the served index config (trained on the raw corpus, as knn_ivfpq
    # serves it), so the eval isolates the residual-vs-raw TRAINING
    # INPUT with everything else held fixed; the raw variant IS the
    # served config and serves the promoted codebook, only the residual
    # variant trains here
    amap = _pq_opq_map_t(spark, sf_dir)
    raw, resid = _PQ_RESIDUAL_VARIANTS
    s_raw, s_res = _pq_sub_pivot(vecs, amap), _pq_sub_pivot(rvecs, amap)
    # the RSS/TSS ratio frontier materializes alongside the variants
    v_raw, v_res, ratio = _on_threads(
        spark,
        lambda: _pq_variant(
            "variant", raw, s_raw, _pq_codebook_t(spark, sf_dir), truth, cells
        ),
        lambda: _pq_variant(
            "variant", resid, s_res, _pq_codebook(s_res, stride), truth, cells
        ),
        lambda: track_local_checkpoint(ratio_lazy),
    )
    return (
        v_raw.unionByName(v_res)
        .crossJoin(F.broadcast(ratio))
        .transform(order_result, "variant")
    )


ORACLE_KNN_PQ_RESIDUAL = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ivf_train_sql()},
rvecs AS (
  SELECT a.vec_id,
         list_transform(list_zip(a.v, c.cv), x -> x[1] - x[2]) AS v
  FROM assigned a JOIN cent c ON c.clabel = a.cell),
{_pq_opq_map_sql()},
rdims AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
  FROM rvecs),
{_pq_sub_pivot_sql("opq_dims", "opq_map", "pr_subp")},
{_pq_sub_pivot_sql("rdims", "opq_map", "pz_subp")},
{_pq_train_sql("pr_subp", "pr")},
{_pq_train_sql("pz_subp", "pz")},
{_PQ_EXACT3_SQL},
rss AS (SELECT sum(list_sum(list_transform(v, x -> x * x))) AS s FROM rvecs),
gmean AS (
  SELECT pos, round(avg(x), 6) AS gx FROM (
    SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM vecs)
  GROUP BY 1),
tss AS (
  SELECT sum((t.x - g.gx) * (t.x - g.gx)) AS s
  FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM vecs) t
  JOIN gmean g ON g.pos = t.pos),
ratio AS (SELECT round(r.s / t.s, 6) AS coarse_rss_ratio
          FROM rss r CROSS JOIN tss t),
{_with_cells_sql("pr")},
{_adc_sql("pr_adc", "pr_codesc", "pr_qlutc", _IN_CELL_SQL)},
{_pq_variant_sql("pr", "variant", _PQ_RESIDUAL_VARIANTS[0])},
{_with_cells_sql("pz")},
{_adc_sql("pz_adc", "pz_codesc", "pz_qlutc", _IN_CELL_SQL)},
{_pq_variant_sql("pz", "variant", _PQ_RESIDUAL_VARIANTS[1])}
SELECT v.variant, v.recall_at3, v.mean_recon_d2, x.coarse_rss_ratio
FROM (SELECT * FROM pr_rec UNION ALL SELECT * FROM pz_rec) v
CROSS JOIN ratio x
ORDER BY v.variant
"""

QUERIES["knn_pq_residual_eval"] = q_knn_pq_residual_eval
ORACLE["knn_pq_residual_eval"] = ORACLE_KNN_PQ_RESIDUAL


# --------------------------------------------------------------------------
# knn_pq_opq_eval — OPQ-lite coordinate permutation, priced (round 13)
# --------------------------------------------------------------------------

_PQ_OPQ_VARIANTS = ("balanced", "identity")


def q_knn_pq_opq_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-lite subspace assignment, priced at ZERO query-time cost
    (VERDICT r12 #6): full OPQ (Ge et al., CVPR'13) learns a rotation
    matrix before PQ; its cheap deterministic half is a coordinate
    PERMUTATION that balances variance across subspaces — the adjacent
    (2m, 2m+1) identity pairing concentrates whatever per-dimension
    variance structure the data has into few subspaces, and balancing
    spreads the quantization budget. Both assignments produce the SAME
    M×K codebook geometry, encode bytes and scan cost, so recall is the
    only axis — "adopt only if recall-positive at equal scan".

    Assignment rule (deterministic, oracle-replayable): per-dimension
    sample variance over the corpus, rounded 6 dp (the cross-engine
    rounding discipline — raw variance ranks would let ~1e-13 engine
    reassociation noise flip near-ties), ranked DESC with position
    tie-break; rank r pairs with rank 2M−1−r (boustrophedon), so every
    subspace holds one high-variance and one low-variance coordinate.
    Both variants run through the identical join+pivot stream builder.
    Since the balanced assignment IS the served config, the BALANCED
    row is the self-check — it must reproduce ``knn_pq_adc``'s exact
    recall (same subspace map, same codebook, same full-scan ADC),
    pinned by test — and the identity row is the standing
    counterfactual the adoption was measured against.

    Measured verdict (sf0.001/0.01/0.1): recall@3 0.900/0.967/0.867
    (balanced) vs 0.767/0.900/0.833 (identity) — recall-POSITIVE at
    every scale at identical scan cost, so per the rule the balanced
    assignment was ADOPTED as the served config (``_pq_sub_opq``,
    consumed by ``knn_pq_adc`` / ``knn_ivfpq``; the identity row here
    is the standing counterfactual, and the balanced row must
    reproduce ``knn_pq_adc``'s recall exactly — pinned by test).
    Mechanism note: the corpus is near-isotropic (per-dimension
    variance spread 1.2×), and the balanced rows' mean distortion is
    not uniformly lower — so the gain is NOT variance balancing but
    DE-ADJACENCY: the identity pairing puts generator-correlated
    adjacent coordinates in one subspace, and correlated pairs make
    per-subspace quantization errors correlate with the data, biasing
    ADC rankings; any rank-derived permutation breaks the adjacency.
    Priced consistently across three independently-sampled corpora.

    Scale posture: the variance pass is one corpus scan aggregated to
    64 rows; assignment maps are 64-row broadcasts; everything
    downstream is the ``knn_pq_adc`` architecture with the same bounded
    training / broadcast-LUT / codes-only-shuffle shape; checkpoint
    frontiers as in ``_pq_variant``."""
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    stride = _pq_train_stride(spark, sf_dir)
    # the promoted truth artifact (30 rows, one truth pass per process)
    truth = _pq_exact3_t(spark, sf_dir).select("query_id", "neighbor_id")
    imap = spark.range(_PQ_M * _PQ_SUBDIM).select(
        F.col("id").alias("pos"),
        F.floor(F.col("id") / _PQ_SUBDIM).cast("long").alias("m"),
        (F.col("id") % _PQ_SUBDIM + 1).alias("slot"),
    )
    bal, ident = _PQ_OPQ_VARIANTS
    s_bal = _pq_sub_pivot(vecs, _pq_opq_map_t(spark, sf_dir))
    s_id = _pq_sub_pivot(vecs, imap)
    # the balanced variant IS the served config and serves the promoted
    # codebook; only the identity counterfactual trains here
    v_bal, v_id = _on_threads(
        spark,
        lambda: _pq_variant(
            "assignment", bal, s_bal, _pq_codebook_t(spark, sf_dir), truth
        ),
        lambda: _pq_variant(
            "assignment", ident, s_id, _pq_codebook(s_id, stride), truth
        ),
    )
    return v_bal.unionByName(v_id).transform(order_result, "assignment")


ORACLE_KNN_PQ_OPQ = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_pq_opq_map_sql()},
imap AS (
  SELECT pos, CAST(floor(pos / {_PQ_SUBDIM}.0) AS BIGINT) AS m,
         pos % {_PQ_SUBDIM} + 1 AS slot
  FROM range(0, {_PQ_M * _PQ_SUBDIM}) t(pos)),
{_pq_sub_pivot_sql("opq_dims", "opq_map", "ob_subp")},
{_pq_sub_pivot_sql("opq_dims", "imap", "oi_subp")},
{_pq_train_sql("ob_subp", "ob")},
{_pq_train_sql("oi_subp", "oi")},
{_PQ_EXACT3_SQL},
{_adc_sql("ob_adc", "ob_codes", "ob_qlut")},
{_pq_variant_sql("ob", "assignment", _PQ_OPQ_VARIANTS[0])},
{_adc_sql("oi_adc", "oi_codes", "oi_qlut")},
{_pq_variant_sql("oi", "assignment", _PQ_OPQ_VARIANTS[1])}
SELECT assignment, recall_at3, mean_recon_d2 FROM (
  SELECT * FROM ob_rec UNION ALL SELECT * FROM oi_rec)
ORDER BY assignment
"""

QUERIES["knn_pq_opq_eval"] = q_knn_pq_opq_eval
ORACLE["knn_pq_opq_eval"] = ORACLE_KNN_PQ_OPQ


# --------------------------------------------------------------------------
# knn_ivfpq_recall_curve — the SERVED index's (nprobe, recall, scan) tuner
# --------------------------------------------------------------------------


def q_knn_ivfpq_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured (recall@3, scan-fraction) curve of the FULL IVFADC index
    — trained coarse cells + trained OPQ-lite PQ codebooks — across
    nprobe ∈ ``_IVF_CURVE_NPROBES`` (round 13). ``knn_ivf_recall_curve``
    prices the coarse quantizer with EXACT in-cell scoring; the serving
    tier (``knn_ivfpq``) scores by compressed-domain ADC, so its curve
    sits below the exact-IVF curve by the codebook distortion and THIS
    is the one a production tuner of the composed index reads: both loss
    sources (cell miss shrinking with nprobe, distortion constant in
    nprobe) on one measured axis against the true scan cost.

    Because ``by_residual`` is OFF (the measured ``knn_pq_residual_eval``
    decision), the ADC lookup table is CELL-INDEPENDENT — one LUT per
    query scores candidates from every probed cell — so multiprobe is a
    pure widening of the candidate filter: the residual variant would
    instead need one LUT per (query, probed cell), which is the cost
    asymmetry FAISS documents for by_residual at high nprobe. The
    nprobe=1 row must equal ``knn_pq_recall_eval``'s ivfpq row (same
    cells, same codes, same LUT — pinned by test).

    Measured verdict (recall@3 at nprobe 1/2/4, scan ≈ 0.10/0.20/0.40):
    sf0.001 0.833/0.867/0.867, sf0.01 0.900/0.900/0.967, sf0.1
    0.867/0.867/0.867 — each curve FLATTENS at (or near) the full-scan
    ADC recall (``knn_pq_adc``: 0.900/0.967/0.867) while the exact-IVF
    curve (``knn_ivf_recall_curve``) keeps climbing to 0.97-1.0: at
    sf0.1 the served index is distortion-bound from the FIRST probe
    (cell miss ≈ 0, extra probes buy nothing), so a tuner should spend
    the next unit of cost on finer codebooks or on re-ranking the ADC
    top-k against raw vectors, not on more probes. Locating that
    crossover is exactly what this curve exists for.

    Scale posture: identical to the tiers it composes — bounded query
    slice, broadcast centroids/codebooks/LUT, cell-keyed candidate
    join, codes-only shuffle payload, one widening join against the
    3-row probe table; the truth pass is the |slice|×n linear scan
    every recall eval pays. Candidate ADC rows are scope-cached (they
    feed both the per-nprobe ranking and the scan-volume aggregate)."""
    n_corpus = metadata_row_count(spark, sf_dir, "embeddings")
    cent, assigned = _ivf_cells(spark, sf_dir)
    sub = _pq_sub_opq(spark, sf_dir)
    cb = _pq_codebook_t(spark, sf_dir)
    cells = assigned.select("vec_id", "cell")
    codes = _pq_encode(sub, cb).join(cells, "vec_id")
    adc = track_cache(
        codes.join(
            F.broadcast(_probe_cells(assigned, cent)),
            (F.col("cell") == F.col("qcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .join(F.broadcast(_pq_qlut(sub, cb)), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id", "cellrank")
        .agg(F.round(F.sum("qd2"), 6).alias("adc_d2"))
        .withColumnRenamed("vec_id", "neighbor_id")
    )
    # exact truth under the PQ-tier convention: squared-L2, ties to the
    # smaller id — the promoted artifact (one truth pass per process)
    truth = _pq_exact3_t(spark, sf_dir).select("query_id", "neighbor_id")
    return _probe_curve(adc, F.col("adc_d2").asc(), truth, n_corpus)


ORACLE_KNN_IVFPQ_CURVE = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ivf_train_sql()},
{_PQ_SERVED_SQL},
{_with_cells_sql("pq")},
{_PROBE_CELLS_SQL},
cand_adc AS (
  SELECT qc.query_id, k.vec_id AS neighbor_id, qc.cellrank,
         round(sum(l.qd2), 6) AS adc_d2
  FROM qcells qc
  JOIN pq_codesc k ON k.cell = qc.qcell AND k.vec_id <> qc.query_id
  JOIN pq_qlut l
    ON l.query_id = qc.query_id AND l.m = k.m AND l.code = k.code
  GROUP BY 1, 2, 3
),
{_PQ_EXACT3_SQL},
{_probe_curve_sql("cand_adc", "adc_d2 ASC")}
"""

QUERIES["knn_ivfpq_recall_curve"] = q_knn_ivfpq_recall_curve
ORACLE["knn_ivfpq_recall_curve"] = ORACLE_KNN_IVFPQ_CURVE


# --------------------------------------------------------------------------
# knn_ivfpq_rerank — refine the ADC top-R against raw vectors (round 13)
# --------------------------------------------------------------------------

_PQ_RERANK_R = 10  # ADC candidates refined per query (FAISS k_factor ~ R/k)


def q_knn_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC + exact re-ranking — the refine step
    (FAISS ``IndexRefineFlat``) that ``knn_ivfpq_recall_curve``'s own
    verdict prescribes: the served index is DISTORTION-bound (its curve
    flattens at the full-scan ADC ceiling from the first probe at
    sf0.1), and the cheapest distortion fix is not finer codebooks but
    re-scoring a short ADC shortlist against the RAW vectors. The scan
    stays compressed-domain (cell-restricted codes, broadcast LUT — the
    whole ``knn_ivfpq`` architecture); only the top-``_PQ_RERANK_R``
    ADC candidates per query (a bounded |queries|×R frame) join back to
    the raw corpus — one vec_id-keyed equi-join that touches R rows per
    query, not the corpus — and exact squared-L2 re-ranks them to the
    final top-3.

    Measured verdict (recall@3 vs the exact-L2 truth, sf0.001/0.01/0.1):
    0.867/0.900/0.967 — vs 0.833/0.900/0.867 unrefined (``knn_ivfpq``).
    At sf0.1 the refine buys +0.100 and lands ABOVE the full-scan ADC
    ceiling (0.867): re-ranking 10 raw vectors per query beats scanning
    the ENTIRE corpus in the compressed domain, which is the whole
    refine-stage argument in one row. At sf0.01 it buys nothing — there
    the unrefined loss is pure CELL miss (truth outside the probed
    cell is not in the shortlist at any R; the nprobe=4 row of
    ``knn_ivfpq_recall_curve`` reaches 0.967 instead). The two levers
    are complementary and now both measured: probes fix cell miss,
    re-ranking fixes distortion mis-ranking.

    Scale posture: identical to ``knn_ivfpq`` until the shortlist; the
    refine join's left side is queries×R rows (broadcast), so the raw
    corpus is touched by ONE keyed join that AQE serves as a broadcast
    probe at any corpus size — never a second full scan. The oracle
    replays the exact chain (ADC shortlist ties to the smaller
    neighbor_id, then exact d2 ties the same way)."""
    return (
        _topk(
            _ivfpq_refine(spark, sf_dir, _PQ_RERANK_R),
            ["query_id"],
            F.col("d2").asc(),
            3,
            "rank",
            bigint=True,
        )
        .select("query_id", "neighbor_id", "d2", "rank")
        .transform(order_result, "query_id", "rank")
    )


def _ivfpq_refine(spark: SparkSession, sf_dir: str, r: int) -> DataFrame:
    """The refine stage (query_id, neighbor_id, rk, d2): the served
    IVFADC ranking cut to a top-``r`` shortlist (ADC rank ``rk``, ties
    to the smaller neighbor_id), each candidate re-scored by exact
    squared-L2 ``d2`` against the raw vectors. The shortlist side is
    queries×r rows (broadcast), so the raw corpus is touched by one
    keyed join."""
    shortlist = _topk(
        _ivfpq_adc(spark, sf_dir), ["query_id"], F.col("adc_d2").asc(), r
    ).select("query_id", "neighbor_id", "rk")
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    qv = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return (
        F.broadcast(shortlist.join(F.broadcast(qv), "query_id"))
        .join(vecs, F.col("vec_id") == F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "rk",
            F.round(S.l2sq(F.col("qv"), F.col("v")), 6).alias("d2"),
        )
    )


def _ivfpq_refine_sql(r: int) -> str:
    """CTEs ``shortlist`` and ``refined``: ``_ivfpq_refine`` in DuckDB,
    after ``_IVFPQ_ADC_SQL``."""
    return f"""{_topk_sql("shortlist", "adc", ["query_id"], "adc_d2 ASC", r,
           "query_id, neighbor_id, rk")},
refined AS (
  SELECT s.query_id, s.neighbor_id, s.rk, {_L2_SQL} AS d2
  FROM shortlist s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id)"""


ORACLE_KNN_IVFPQ_RERANK = f"""
WITH {_IVFPQ_ADC_SQL},
{_ivfpq_refine_sql(_PQ_RERANK_R)},
{_served_sql("refined", "d2", False)}
"""

QUERIES["knn_ivfpq_rerank"] = q_knn_ivfpq_rerank
ORACLE["knn_ivfpq_rerank"] = ORACLE_KNN_IVFPQ_RERANK


# --------------------------------------------------------------------------
# knn_ivfpq_rerank_sweep — pricing the refine budget R (round 14)
# --------------------------------------------------------------------------

_PQ_RERANK_SWEEP_RS = (10, 20, 50)


def q_knn_ivfpq_rerank_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(R, recall@3, rows-re-ranked) sweep of the refine stage — the last
    untuned knob in the ANN quality arc (VERDICT r13 #5): ``knn_ivf_
    nlist_sweep`` prices cells, ``knn_ivfpq_recall_curve`` prices probes,
    ``knn_ivfpq_rerank`` fixes distortion at R=10; this harness tells a
    100 TB operator what each extra unit of re-rank budget buys, the way
    FAISS's ``k_factor`` is tuned: recall@3 against the exact-L2 truth
    per R ∈ {10, 20, 50}, with the true cost axis (``reranked`` = raw
    vectors exactly re-scored — per query min(R, in-cell candidates), so
    the ceiling R=50 also exposes how often the nprobe=1 cell simply
    runs out of candidates).

    ONE exact re-score serves every R: under the ADC ranking the top-R
    shortlist is a PREFIX of the top-max(R) shortlist, so the raw-vector
    join runs once at R=50 (queries×50 bounded broadcast side — the
    corpus is touched by one keyed join, never re-scanned) and each
    sweep row is a rank cut over the same refined frame — the same
    widening trick the nprobe curve uses (``cellrank <= nprobe``).

    Measured verdict (recall@3 at R=10/20/50): FLAT in R at every scale
    — 0.867/0.867/0.867 (sf0.001), 0.900/0.900/0.900 (sf0.01),
    0.967/0.967/0.967 (sf0.1), while ``reranked`` grows 100/200/472-500
    (at R=50 the nprobe=1 cells themselves run out of candidates): the
    ADC top-10 already contains every truth vector that reached the
    probed cell, so past R=10 the refine budget buys nothing and the
    residual loss is pure cell miss (the curve's axis, fixed by probes,
    not by R). The sweep's verdict is a config: ship R=10
    (``_PQ_RERANK_R``); at 50 the re-rank join carries 5× the traffic
    for +0.000. Scale posture identical to ``knn_ivfpq_rerank``."""
    refined = track_cache(
        _ivfpq_refine(spark, sf_dir, max(_PQ_RERANK_SWEEP_RS))
    )
    per_r = _widen(refined, "r", _PQ_RERANK_SWEEP_RS, "rk")
    top3 = _topk(per_r, ["r", "query_id"], F.col("d2").asc(), 3, "rrk")
    reranked = per_r.groupBy("r").agg(F.count("*").alias("reranked"))
    truth = _pq_exact3_t(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        _recall(truth, top3, reranked, ["r"])
        .select("r", "recall_at3", "reranked")
        .transform(order_result, "r")
    )


ORACLE_KNN_IVFPQ_RERANK_SWEEP = f"""
WITH {_IVFPQ_ADC_SQL},
{_ivfpq_refine_sql(max(_PQ_RERANK_SWEEP_RS))},
{_widen_sql("per_r", "refined", "r", _PQ_RERANK_SWEEP_RS, "rk")},
{_topk_sql("top3", "per_r", ["r", "query_id"], "d2 ASC", 3,
           "r, query_id, neighbor_id", rank="rrk")},
reranked AS (SELECT r, count(*) AS reranked FROM per_r GROUP BY 1),
{_PQ_EXACT3_SQL},
{_recall_sql("rec", "exact3", "top3", "reranked", ["r"])}
SELECT r, recall_at3, reranked FROM rec ORDER BY r
"""

QUERIES["knn_ivfpq_rerank_sweep"] = q_knn_ivfpq_rerank_sweep
ORACLE["knn_ivfpq_rerank_sweep"] = ORACLE_KNN_IVFPQ_RERANK_SWEEP
