"""jp_qcew_spark — a PySpark-native analytics engine with the capabilities of
gitinference/jp-qcew (see SURVEY.md), built Spark-first.

Layers
------
- ``session``    : SparkSession factory with scale-aware defaults (AQE, Arrow, UTC).
- ``schema``     : QCEW fixed-width field registry (121 fields; reference
                   src/jp_qcew/decode.json:1-486 re-expressed as Python data).
- ``sources``    : scans — fixed-width text, parquet datasets, CSV dims.
- ``operators``  : relational pipelines — ETL, NAICS aggregate, wages, time-series,
                   event windows, join family (as-of / range / anti).
- ``functions``  : scalar function library — labels, geo (haversine/bbox), text stats.
- ``ext``        : LLM-data-pipeline tier — dedup (exact/minhash/simhash/jaccard),
                   embedding similarity, multimodal binary plumbing.
- ``streaming``  : Structured Streaming variants of the event-window operators.
- ``queries``    : the driver-facing query registry (queries() + oracle_sql()).
"""

from jp_qcew_spark.io import release_caches  # noqa: F401  (public re-export)

__version__ = "0.1.0"
