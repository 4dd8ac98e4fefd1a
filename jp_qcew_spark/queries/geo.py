"""Geospatial queries (SURVEY.md §7.3: haversine + bbox as native
expressions, standing in for the reference's aspirational ``geom`` Point
column, reference README.md:9,64).

The oracle tables carry no coordinates, so customer locations are DERIVED
deterministically from c_custkey (pseudo-coords on a world grid) — the same
formula in Spark and DuckDB, making every trig result hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from jp_qcew_spark.functions.geo import haversine_km, in_bbox
from jp_qcew_spark.io import load_table, order_result

# Presentation sorts pin NULLS LAST explicitly: Spark's ASC default is
# NULLS FIRST while DuckDB's is NULLS LAST, so any nullable sort key
# would silently reorder the driver's hash-compared output the first
# time a NULL appears (the local harness re-sorts rows and can't see it).

# San Juan, PR — the reference's home geography (UPR Mayagüez / PR Planning
# Board, reference README.md:3)
_SJ_LAT, _SJ_LON = 18.4655, -66.1057


def _coords(key: Column) -> tuple[Column, Column]:
    """Deterministic pseudo-coordinates from an integer key: lat in
    [-60, 60), lon in [-180, 180), both with 0.01-degree jitter."""
    lat = (key * 37 % 120).cast("double") - 60.0 + (key % 100).cast("double") / 100.0
    lon = (key * 73 % 360).cast("double") - 180.0 + (key % 97).cast("double") / 97.0
    return lat, lon


_COORDS_SQL = (
    "CAST(c_custkey * 37 % 120 AS DOUBLE) - 60.0"
    " + CAST(c_custkey % 100 AS DOUBLE) / 100.0",
    "CAST(c_custkey * 73 % 360 AS DOUBLE) - 180.0"
    " + CAST(c_custkey % 97 AS DOUBLE) / 97.0",
)


def q_geo_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caribbean-bbox filter + haversine distance to San Juan, 20 nearest
    customers. The bbox predicate is a plain range filter (parquet row-group
    pushdown at scale); trig runs only on survivors; top-k is a bounded
    sort."""
    c = load_table(spark, sf_dir, "customer")
    lat, lon = _coords(F.col("c_custkey"))
    with_coords = c.select(
        "c_custkey", lat.alias("lat"), lon.alias("lon")
    ).filter(in_bbox(F.col("lat"), F.col("lon"), 0.0, 40.0, -100.0, -40.0))
    return (
        with_coords.select(
            "c_custkey",
            F.round("lat", 6).alias("lat"),
            F.round("lon", 6).alias("lon"),
            F.round(
                haversine_km(
                    F.col("lat"), F.col("lon"), F.lit(_SJ_LAT), F.lit(_SJ_LON)
                ),
                3,
            ).alias("dist_km"),
        )
        .orderBy("dist_km", "c_custkey")
        .limit(20)
    )


ORACLE_GEO_NEAREST = f"""
WITH pts AS (
  SELECT c_custkey,
         {_COORDS_SQL[0]} AS lat,
         {_COORDS_SQL[1]} AS lon
  FROM customer
), boxed AS (
  SELECT * FROM pts
  WHERE lat BETWEEN 0.0 AND 40.0 AND lon BETWEEN -100.0 AND -40.0
)
SELECT c_custkey, round(lat, 6) AS lat, round(lon, 6) AS lon,
       round(2.0 * 6371.0 * asin(sqrt(
         sin(radians({_SJ_LAT} - lat) / 2) ^ 2
         + cos(radians(lat)) * cos(radians({_SJ_LAT}))
           * sin(radians({_SJ_LON} - lon) / 2) ^ 2)), 3) AS dist_km
FROM boxed
ORDER BY dist_km, c_custkey LIMIT 20
"""


def q_geo_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation counts + mean distance to San Juan for in-bbox customers:
    bbox filter → broadcast dim join → hash agg (the canonical geo-enrich
    plan: fact never leaves executors, nation dim broadcast)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    lat, lon = _coords(F.col("c_custkey"))
    pts = c.select("c_custkey", "c_nationkey", lat.alias("lat"), lon.alias("lon"))
    boxed = pts.filter(in_bbox(F.col("lat"), F.col("lon"), 0.0, 40.0, -100.0, -40.0))
    return (
        boxed.join(F.broadcast(n), boxed.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                F.avg(
                    haversine_km(
                        F.col("lat"), F.col("lon"), F.lit(_SJ_LAT), F.lit(_SJ_LON)
                    )
                ),
                3,
            ).alias("avg_dist_km"),
        )
        .transform(order_result, F.col("n_name").asc_nulls_last())
    )


ORACLE_GEO_BBOX_JOIN = f"""
WITH pts AS (
  SELECT c_custkey, c_nationkey,
         {_COORDS_SQL[0]} AS lat,
         {_COORDS_SQL[1]} AS lon
  FROM customer
), boxed AS (
  SELECT * FROM pts
  WHERE lat BETWEEN 0.0 AND 40.0 AND lon BETWEEN -100.0 AND -40.0
)
SELECT n_name, count(*) AS n_customers,
       round(avg(2.0 * 6371.0 * asin(sqrt(
         sin(radians({_SJ_LAT} - lat) / 2) ^ 2
         + cos(radians(lat)) * cos(radians({_SJ_LAT}))
           * sin(radians({_SJ_LON} - lon) / 2) ^ 2))), 3) AS avg_dist_km
FROM boxed JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


QUERIES = {
    "geo_nearest": q_geo_nearest,
    "geo_bbox_join": q_geo_bbox_join,
}

ORACLE = {
    "geo_nearest": ORACLE_GEO_NEAREST,
    "geo_bbox_join": ORACLE_GEO_BBOX_JOIN,
}


# --------------------------------------------------------------------------
# geo_grid_join — grid-bucketed distance join (the spatial LSH analog)
# --------------------------------------------------------------------------

_CELL_DEG = 5.0  # 5° of latitude ≈ 556 km > the 500 km radius
_RADIUS_KM = 500.0


def _supp_coords(key: Column) -> tuple[Column, Column]:
    """Deterministic supplier pseudo-coordinates (distinct multipliers from
    the customer grid so the two point sets don't coincide)."""
    lat = (key * 41 % 120).cast("double") - 60.0 + (key % 89).cast("double") / 89.0
    lon = (key * 97 % 360).cast("double") - 180.0 + (key % 83).cast("double") / 83.0
    return lat, lon


_SUPP_COORDS_SQL = (
    "CAST(s_suppkey * 41 % 120 AS DOUBLE) - 60.0"
    " + CAST(s_suppkey % 89 AS DOUBLE) / 89.0",
    "CAST(s_suppkey * 97 % 360 AS DOUBLE) - 180.0"
    " + CAST(s_suppkey % 83 AS DOUBLE) / 83.0",
)


def q_geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance join customers × suppliers within 500 km, grid-bucketed —
    the canonical DISTRIBUTED spatial join: an all-pairs distance predicate
    is quadratic, so each supplier is replicated into its 5°-cell
    neighborhood (3 lat × 5 lon — lon cells shrink to ~397 km at the
    highest reachable latitude, so ±2 covers the radius), customers stay in
    their single home cell, and the join becomes a keyed equi-join on cell
    id with the exact haversine predicate applied only to co-bucketed pairs
    — the same bucket-then-verify shape as MinHash-LSH. A pair can match in
    at most one cell (the customer's), so no post-join dedupe is needed.
    The customer bbox keeps the domain off the antimeridian, where cell ids
    would need wraparound.

    The oracle computes the SAME result as a plain quadratic cross join +
    distance filter, so the hash-compare proves the grid plan loses no
    pairs. Output: distribution of suppliers-within-radius per customer.

    Scale: both sides shuffle once on cell id (supplier side 15×
    replicated — the bounded, tunable cost); no broadcast hints, no
    cartesian (plan-tested).
    """
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    clat, clon = _coords(F.col("c_custkey"))
    slat, slon = _supp_coords(F.col("s_suppkey"))

    cust = c.select(
        "c_custkey", clat.alias("lat"), clon.alias("lon")
    ).filter(in_bbox(F.col("lat"), F.col("lon"), 0.0, 40.0, -100.0, -40.0))
    cust = cust.withColumns(
        {
            "cell_i": F.floor(F.col("lat") / _CELL_DEG).cast("int"),
            "cell_j": F.floor(F.col("lon") / _CELL_DEG).cast("int"),
        }
    )
    supp = s.select("s_suppkey", slat.alias("slat"), slon.alias("slon"))
    offsets = F.array(
        *[
            F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
            for di in (-1, 0, 1)
            for dj in (-2, -1, 0, 1, 2)
        ]
    )
    supp_cells = supp.select(
        "s_suppkey", "slat", "slon", F.explode(offsets).alias("o")
    ).select(
        "s_suppkey",
        "slat",
        "slon",
        (F.floor(F.col("slat") / _CELL_DEG).cast("int") + F.col("o.di")).alias(
            "cell_i"
        ),
        (F.floor(F.col("slon") / _CELL_DEG).cast("int") + F.col("o.dj")).alias(
            "cell_j"
        ),
    )
    # the radius test compares the 3-decimal-ROUNDED distance (both
    # engines): the raw doubles differ at the ulp level (radians() alone
    # differs between Java's x/180*pi and DuckDB's x*(pi/180) on ~35% of
    # inputs), and a raw <= compare near the boundary would be engine
    # luck — the same display-pin convention as geo_nearest/geo_bbox_join
    pairs = cust.join(supp_cells, ["cell_i", "cell_j"]).filter(
        F.round(
            haversine_km(
                F.col("lat"), F.col("lon"), F.col("slat"), F.col("slon")
            ),
            3,
        )
        <= _RADIUS_KM
    )
    per_cust = pairs.groupBy("c_custkey").agg(
        F.count("*").alias("n_nearby")
    )
    return (
        per_cust.groupBy("n_nearby")
        .agg(F.count("*").cast("long").alias("n_customers"))
        .orderBy(F.col("n_nearby").asc_nulls_last())
    )


ORACLE_GEO_GRID_JOIN = f"""
WITH cust AS (
  SELECT * FROM (
    SELECT c_custkey,
           {_COORDS_SQL[0]} AS lat,
           {_COORDS_SQL[1]} AS lon
    FROM customer
  ) WHERE lat BETWEEN 0.0 AND 40.0 AND lon BETWEEN -100.0 AND -40.0
), supp AS (
  SELECT s_suppkey,
         {_SUPP_COORDS_SQL[0]} AS slat,
         {_SUPP_COORDS_SQL[1]} AS slon
  FROM supplier
), pairs AS (
  SELECT c_custkey
  FROM cust, supp
  WHERE round(2.0 * 6371.0 * asin(sqrt(
          sin(radians(slat - lat) / 2) ^ 2
          + cos(radians(lat)) * cos(radians(slat))
            * sin(radians(slon - lon) / 2) ^ 2)), 3) <= {_RADIUS_KM}
), per_c AS (
  SELECT c_custkey, count(*) AS n_nearby FROM pairs GROUP BY 1
)
SELECT n_nearby, CAST(count(*) AS BIGINT) AS n_customers
FROM per_c GROUP BY 1 ORDER BY n_nearby
"""

QUERIES["geo_grid_join"] = q_geo_grid_join
ORACLE["geo_grid_join"] = ORACLE_GEO_GRID_JOIN
