"""Multi-dimensional aggregates + approximate sketches (SURVEY.md §2.D
"not present" row — extension tier 7: cube / rollup / grouping sets,
approx_count_distinct, percentile sketches).

Exact forms are oracle-checked directly. The approximate sketches
(HyperLogLog, GK-quantile, DataSketches HLL union) are hash-checked via the
bounded-error contract: each query computes the exact value alongside the
estimate and emits within-band flags the oracle re-derives, so an
out-of-band estimate breaks the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jp_qcew_spark.io import load_table, order_result


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping combinations, with
    GROUPING() flags to disambiguate NULL-as-total from NULL data. Spark plans
    cube as a single expand+hash-agg — one shuffle regardless of the number
    of grouping sets."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_rf"),
            F.grouping("l_linestatus").cast("long").alias("g_ls"),
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_rf", "g_ls", "n", "sum_qty"
        )
        .transform(order_result, "g_rf", "g_ls", "l_returnflag", "l_linestatus")
    )


ORACLE_CUBE = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
       count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: per-(year, priority), per-year, grand total —
    the general form rollup/cube sugar over (Spark SQL syntax; one expand)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    gs = spark.sql(
        """
        SELECT year(o_orderdate) AS order_year,
               o_orderpriority,
               CAST(grouping(year(o_orderdate)) AS BIGINT) AS g_year,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority),
                                (year(o_orderdate)), ())
        """
    )
    return order_result(gs, "g_year", "g_prio", "order_year", "o_orderpriority")


ORACLE_GROUPING_SETS = """
SELECT year(o_orderdate) AS order_year,
       o_orderpriority,
       CAST(grouping(year(o_orderdate)) AS BIGINT) AS g_year,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority),
                        (year(o_orderdate)), ())
ORDER BY g_year, g_prio, order_year, o_orderpriority
"""


def q_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of extendedprice per returnflag
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``) — the exact twin of the
    GK sketch below."""
    li = load_table(spark, sf_dir, "lineitem")
    # one array-form percentile = ONE per-group sort for all three points
    # (three scalar calls would sort the group three times)
    pct = F.expr("percentile(l_extendedprice, array(0.5, 0.95, 0.99))")
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("pcts"))
        .select(
            "l_returnflag",
            F.round(F.get("pcts", 0), 4).alias("p50"),
            F.round(F.get("pcts", 1), 4).alias("p95"),
            F.round(F.get("pcts", 2), 4).alias("p99"),
        )
        .transform(order_result, "l_returnflag")
    )


ORACLE_QUANTILES_EXACT = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_sketch_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches — the 100 TB workhorses: HyperLogLog distinct
    counts (``approx_count_distinct``) and GK-sketch percentiles
    (``percentile_approx``) — made hash-checkable by computing the EXACT
    value in the same query and emitting bounded-error flags (1 = estimate
    within band). The oracle recomputes the exact columns and asserts every
    flag is 1, so an out-of-band sketch breaks the value hash instead of
    hiding behind a rows-only check (VERDICT r1 #7).

    Bands: HLL default rsd=5% → 15% tolerance (max observed error across
    sf0.001-0.1 is 8.6%); GK accuracy=10000 → rank error ≤ n/10000 → 1%
    value tolerance is generous. Both sketches merge associatively → single
    partial-agg shuffle regardless of group cardinality."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.expr("percentile(l_extendedprice, array(0.5, 0.95))")
    # Two separate aggregates, NOT one: countDistinct rewrites through an
    # Expand (row duplication per distinct group), and feeding that expanded
    # stream into the exact-percentile object buffers forces a sort-based
    # fallback — measured 21 s vs 1.5 s each at sf0.1 (26× blowup). Joining
    # the two 3-row results back is free (AQE broadcasts).
    counts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.approx_count_distinct("l_orderkey").alias("hll"),
    )
    pcts = li.groupBy("l_returnflag").agg(
        pct.alias("pcts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50a"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95a"),
    )
    agg = counts.join(pcts, "l_returnflag")
    p50 = F.get("pcts", 0)
    p95 = F.get("pcts", 1)

    def within(approx, exact, tol):
        return (F.abs(approx - exact) / exact <= tol).cast("long")

    return agg.select(
        "l_returnflag",
        "n_orders",
        within(F.col("hll"), F.col("n_orders"), 0.15).alias("hll_within_15pct"),
        F.round(p50, 4).alias("p50"),
        within(F.col("p50a"), p50, 0.01).alias("p50_within_1pct"),
        F.round(p95, 4).alias("p95"),
        within(F.col("p95a"), p95, 0.01).alias("p95_within_1pct"),
    ).transform(order_result, "l_returnflag")


ORACLE_SKETCH_APPROX = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS n_orders,
       CAST(1 AS BIGINT) AS hll_within_15pct,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       CAST(1 AS BIGINT) AS p50_within_1pct,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       CAST(1 AS BIGINT) AS p95_within_1pct
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the pattern that makes sketches matter at
    100 TB: build DataSketches HLL sketches at a FINE grain (lang × source),
    store/ship the binary sketch column, then answer the COARSE-grain
    distinct question (per lang) by unioning sketches — no rescan of the
    base data, no re-shuffle of raw ids. ``hll_sketch_agg`` →
    ``hll_union_agg`` → ``hll_sketch_estimate`` (Spark 3.5+ Apache
    DataSketches bindings).

    Hash-checkable via the bounded-error contract: doc_id is row-unique and
    each doc has one source, so the fine-grain exact distincts SUM to the
    coarse exact distinct; the estimate must land within 15% (HLL lgK=12 →
    ~1.6% rsd; 15% is a conservative band)."""
    d = load_table(spark, sf_dir, "documents")
    partial = d.groupBy("lang", "source").agg(
        F.hll_sketch_agg("doc_id", 12).alias("sk"),
        F.countDistinct("doc_id").alias("nd"),
    )
    merged = partial.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", True)).alias("est"),
        F.sum("nd").alias("n_docs"),
        # count("source"), not count(*): the oracle's
        # count(DISTINCT source) skips NULLs, so a NULL-source group's
        # sketch row must not count (late-r11 review, confirmed
        # divergence on a corpus with one NULL source)
        F.count("source").alias("n_sketches"),
    )
    return merged.select(
        "lang",
        "n_docs",
        "n_sketches",
        (F.abs(F.col("est") - F.col("n_docs")) / F.col("n_docs") <= 0.15)
        .cast("long")
        .alias("est_within_15pct"),
    ).transform(order_result, "lang")


ORACLE_SKETCH_HLL_ROLLUP = """
SELECT lang,
       count(DISTINCT doc_id) AS n_docs,
       count(DISTINCT source) AS n_sketches,
       CAST(1 AS BIGINT) AS est_within_15pct
FROM documents GROUP BY lang ORDER BY lang
"""


def q_agg_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count twin (COUNT(DISTINCT) expands to a two-phase
    de-dup + count under Catalyst; at scale prefer the HLL sketch above when
    ±2% suffices)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
        .transform(order_result, "l_returnflag")
    )


ORACLE_AGG_DISTINCT = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


_CMS_D = 4    # hash rows
_CMS_W = 256  # buckets per row


def _cms_probes(df: DataFrame) -> DataFrame:
    """The Count-Min probes of key column ``k``: each row of ``df`` fans
    out to its d=4 hash rows ``j`` with bucket ``b`` = the value of the
    LAST TWO hex chars of md5(f"{j}-{k}"), parsed positionally via
    ``instr('0123456789abcdef', c)`` arithmetic that Spark and DuckDB
    define identically (w=256 == 16², so two hex digits cover the bucket
    space exactly, no modulo). Keeps every column of ``df``."""
    return (
        df.select(
            "*",
            F.explode(F.array(*[F.lit(j) for j in range(_CMS_D)])).alias("j"),
        )
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.col("j").cast("string"),
                    F.lit("-"),
                    F.col("k").cast("string"),
                )
            ),
        )
        .withColumn(
            "b",
            F.expr(
                "(instr('0123456789abcdef', substr(h, 31, 1)) - 1) * 16"
                " + instr('0123456789abcdef', substr(h, 32, 1)) - 1"
            ).cast("long"),
        )
        .drop("h")
    )


def _cms_topk(probes: DataFrame, cms: DataFrame, key: str) -> DataFrame:
    """Top-20 heavy hitters read out of a Count-Min sketch ``cms``
    (j, b, total): ``probes`` holds the candidate keys' exact counts
    (k, c, j, b) (a sketch cannot enumerate its keys, so the candidates
    come from outside), estimate = min over the key's d cells, ranked by
    exact count, ties to the smaller key, which is returned as ``key``."""
    est = (
        probes.join(F.broadcast(cms), ["j", "b"])
        .groupBy("k", "c")
        .agg(F.min("total").alias("est"))
    )
    return (
        est.select(
            F.col("k").alias(key),
            F.col("c").alias("n_exact"),
            F.col("est").alias("n_est"),
            (F.col("est") - F.col("c")).alias("overcount"),
        )
        .orderBy(F.col("n_exact").desc(), F.col(key).asc())
        .limit(20)
    )


def _cms_topk_sql(freq: str, key: str) -> str:
    """DuckDB twin of the Count-Min top-k over the (k, c) counts the
    query ``freq`` returns: the sketch built from those counts, each
    key's estimate as the min over its d cells, top 20 as ``key``."""
    return f"""
WITH freq AS ({freq}), hashed AS (
  SELECT k, c, j, md5(j || '-' || k) AS h
  FROM freq CROSS JOIN range(0, {_CMS_D}) t(j)
), probes AS (
  SELECT k, c, j,
         (instr('0123456789abcdef', substr(h, 31, 1)) - 1) * 16
           + instr('0123456789abcdef', substr(h, 32, 1)) - 1 AS b
  FROM hashed
), cms AS (
  SELECT j, b, sum(c) AS total FROM probes GROUP BY 1, 2
)
SELECT p.k AS {key},
       p.c AS n_exact,
       CAST(min(cms.total) AS BIGINT) AS n_est,
       CAST(min(cms.total) - p.c AS BIGINT) AS overcount
FROM probes p JOIN cms USING (j, b)
GROUP BY p.k, p.c
ORDER BY n_exact DESC, {key} ASC
LIMIT 20
"""


def q_sketch_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters over ``l_suppkey`` — the mergeable
    frequency sketch next to HLL in the sketch tier (Cormode &
    Muthukrishnan): d=4 md5-derived hash rows × w=256 counters, estimate =
    min over rows of the key's bucket counter; CMS never under-counts, so
    ``overcount = est − exact ≥ 0`` always.

    Unlike the HLL queries (randomized → bounded-error FLAGS), every byte
    here is deterministic (``_cms_probes``), so the oracle recomputes the
    ENTIRE sketch and the exact estimate values are hash-matched, not
    banded; ``n_est``/``overcount`` are BIGINT on both engines.

    Scale shape: one partial-agg shuffle to per-key counts (building CMS
    from pre-aggregated counts is identical to streaming increments — sums
    commute); the 4×256-row sketch table is then a broadcast join, and at
    100 TB per-partition CMS tables merge by bucket-wise sum — the whole
    point of the sketch (ship 4 KB, not the key domain)."""
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count("*").alias("c")
    )
    probes = _cms_probes(freq)
    cms = probes.groupBy("j", "b").agg(F.sum("c").alias("total"))
    return _cms_topk(probes, cms, "suppkey")


ORACLE_SKETCH_COUNTMIN = _cms_topk_sql(
    "SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1", "suppkey"
)


QUERIES = {
    "cube_agg": q_cube_agg,
    "grouping_sets": q_grouping_sets,
    "quantiles_exact": q_quantiles_exact,
    "sketch_approx": q_sketch_approx,
    "sketch_hll_rollup": q_sketch_hll_rollup,
    "agg_distinct_exact": q_agg_distinct_exact,
    "sketch_countmin_topk": q_sketch_countmin_topk,
}

ORACLE = {
    "cube_agg": ORACLE_CUBE,
    "grouping_sets": ORACLE_GROUPING_SETS,
    "quantiles_exact": ORACLE_QUANTILES_EXACT,
    "agg_distinct_exact": ORACLE_AGG_DISTINCT,
    "sketch_approx": ORACLE_SKETCH_APPROX,
    "sketch_hll_rollup": ORACLE_SKETCH_HLL_ROLLUP,
    "sketch_countmin_topk": ORACLE_SKETCH_COUNTMIN,
}


# --------------------------------------------------------------------------
# sketch_quantile_hist — mergeable histogram quantile sketch
# --------------------------------------------------------------------------

_QH_WIDTH = 1680   # bin width: 64 bins cover [0, 107520) ⊇ extendedprice
_QH_QS = (0.5, 0.95)


def hist_quantile_readout(hist: DataFrame, width: int | float) -> DataFrame:
    """Rank-interpolation read-out of an additive (flag, bin, cnt)
    histogram: returns one row per flag with ``(flag, n, e50, e95)``
    where ``e_q`` linearly interpolates inside the bin holding rank
    ``r = ceil(q·n)``. Shared by the batch sketch and its streaming twin
    (the read-out runs on a ≤ |flags|·|bins| frame either way — after
    the batch combiner merge or after the streaming state-store merge,
    the sketch looks identical)."""
    wq = Window.partitionBy("flag").orderBy("bin")
    wn = Window.partitionBy("flag")
    cum = hist.select(
        "flag",
        "bin",
        "cnt",
        F.sum("cnt").over(wq).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    qs = F.explode(F.array(*[F.lit(q) for q in _QH_QS])).alias("q")
    tgt = cum.select("flag", "bin", "cnt", "cum", "n", qs).withColumn(
        "r", F.expr("CAST(ceil(q * n) AS BIGINT)")
    )
    hit = tgt.filter(
        (F.col("cum") - F.col("cnt") < F.col("r"))
        & (F.col("r") <= F.col("cum"))
    ).select(
        "flag",
        "q",
        "n",
        F.expr(
            f"bin * {width} + {width} * (r - (cum - cnt)) / cnt"
        ).alias("est"),
    )
    return hit.groupBy("flag", "n").agg(
        F.max(F.when(F.col("q") == _QH_QS[0], F.col("est"))).alias("e50"),
        F.max(F.when(F.col("q") == _QH_QS[1], F.col("est"))).alias("e95"),
    )


def _hist_readout_sql(width: int) -> str:
    """DuckDB twin of ``hist_quantile_readout``: the CTEs ``cum``,
    ``tgt``, ``hit`` and ``wide`` over a CTE ``hist`` of (flag, bin, cnt);
    ``wide`` holds one row per flag, (flag, n, e50, e95)."""
    return f"""cum AS (
  SELECT flag, bin, cnt,
         sum(cnt) OVER (PARTITION BY flag ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY flag) AS n
  FROM hist
), tgt AS (
  SELECT flag, bin, cnt, cum, n, t.q,
         CAST(ceil(t.q * n) AS BIGINT) AS r
  FROM cum CROSS JOIN (VALUES ({_QH_QS[0]}), ({_QH_QS[1]})) t(q)
), hit AS (
  SELECT flag, q, n,
         bin * {width} + {width} * (r - (cum - cnt)) / cnt AS est
  FROM tgt WHERE cum - cnt < r AND r <= cum
), wide AS (
  SELECT flag, CAST(n AS BIGINT) AS n,
         max(CASE WHEN q = {_QH_QS[0]} THEN est END) AS e50,
         max(CASE WHEN q = {_QH_QS[1]} THEN est END) AS e95
  FROM hit GROUP BY 1, 2
)"""


def q_sketch_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width-histogram quantile sketch over
    ``l_extendedprice`` per returnflag — the quantile member of the
    sketch tier next to HLL (cardinality) and Count-Min (frequency).
    The sketch is a fixed 64-cell additive vector: ``bin =
    floor(price / 1680)``; per-partition histograms merge bin-wise in
    the partial-aggregation combiner, which is the entire point at
    100 TB — executors ship 64 counters, never values, and the estimate
    runs on a ~190-row frame after ONE map-side-combined shuffle. The
    rank-``r`` estimate linearly interpolates inside the bin holding
    rank ``r = ceil(q·n)``: ``est = bin·1680 + 1680·(r − cumb)/cnt``.

    Like ``sketch_countmin_topk``, every byte is deterministic, so the
    oracle recomputes the WHOLE sketch and the driver hash-matches exact
    values, not bands: the exact audit twin (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``, the ``quantiles_exact`` precedent) rides
    along as ``exact_*`` and ``err_* = est − exact`` quantifies the
    bin-width error the sketch trades for mergeability. Arithmetic is
    identical expression text on both engines; all intermediates are
    exact integers below 2^53, so the one division is the only rounding
    site and lands identically."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    hist = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.expr(
                f"CAST(floor(l_extendedprice / {_QH_WIDTH}.0) AS BIGINT)"
            ).alias("bin"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    pct = F.expr(
        "percentile(l_extendedprice, array("
        + ", ".join(str(q) for q in _QH_QS)
        + "))"
    )
    exact = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        pct.alias("pcts")
    )
    est_wide = hist_quantile_readout(hist, _QH_WIDTH)
    return (
        est_wide.join(F.broadcast(exact), "flag")
        .select(
            F.col("flag").alias("l_returnflag"),
            F.col("n").cast("long").alias("n"),
            F.round("e50", 4).alias("est_p50"),
            F.round(F.get("pcts", 0), 4).alias("exact_p50"),
            (F.round("e50", 4) - F.round(F.get("pcts", 0), 4)).alias(
                "err_p50"
            ),
            F.round("e95", 4).alias("est_p95"),
            F.round(F.get("pcts", 1), 4).alias("exact_p95"),
            (F.round("e95", 4) - F.round(F.get("pcts", 1), 4)).alias(
                "err_p95"
            ),
        )
        .transform(order_result, "l_returnflag")
    )


ORACLE_SKETCH_QUANTILE_HIST = f"""
WITH li AS (
  SELECT l_returnflag AS flag, l_extendedprice AS v
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), hist AS (
  SELECT flag, CAST(floor(v / {_QH_WIDTH}.0) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM li GROUP BY 1, 2
), {_hist_readout_sql(_QH_WIDTH)}, ex AS (
  SELECT flag,
         quantile_cont(v, {_QH_QS[0]}) AS x50,
         quantile_cont(v, {_QH_QS[1]}) AS x95
  FROM li GROUP BY 1
)
SELECT flag AS l_returnflag, n,
       round(e50, 4) AS est_p50,
       round(x50, 4) AS exact_p50,
       round(e50, 4) - round(x50, 4) AS err_p50,
       round(e95, 4) AS est_p95,
       round(x95, 4) AS exact_p95,
       round(e95, 4) - round(x95, 4) AS err_p95
FROM wide JOIN ex USING (flag)
ORDER BY l_returnflag
"""

QUERIES["sketch_quantile_hist"] = q_sketch_quantile_hist
ORACLE["sketch_quantile_hist"] = ORACLE_SKETCH_QUANTILE_HIST
